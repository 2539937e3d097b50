"""Application / multi-index surface.

The reference serves many named indexes behind one app: queries carry an
``indexName`` and are routed to the owning index, and a ``requests``
array fans one HTTP call across several index queries with per-entry
success isolation (/root/reference/src/main/app.c:146-210, app.c:120-144
get_index_by_name). Index creation/deletion is the app's index registry
(app.c:add_index/delete handlers; exercised by test/robot/crud.robot).

Spark-first shape: an app is a directory of index catalogs
(``<app_dir>/<index_name>/``). Routing is a dict lookup on the driver;
each index keeps its own SearchEngine (stats snapshot + segment cache),
which matches the reference's per-index in-memory state. A query
answers with Python rows: plain top-k queries come from
``SearchEngine.search_local`` (driver kernel, no Spark job for most
queries); filtered and hydrated queries run as Spark plans and are
collected here. Nothing here touches the data plane — all heavy work
stays in the per-index engines.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession

from marlin_spark.config import EngineConfig
from marlin_spark.index.build import IndexBuilder
from marlin_spark.index.catalog import IndexCatalog
from marlin_spark.query.engine import SearchEngine


class MarlinApp:
    def __init__(self, spark: SparkSession, app_dir: str):
        self.spark = spark
        self.dir = app_dir
        os.makedirs(app_dir, exist_ok=True)
        self._engines: dict[str, SearchEngine] = {}
        self._keys_cache: tuple | None = None  # (file bytes, parsed keys)

    # ---------------------------------------------------------- registry
    def index_path(self, name: str) -> str:
        self._check_name(name)
        return os.path.join(self.dir, name)

    def list_indexes(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.dir)
            if self._is_index(os.path.join(self.dir, d))
        )

    @staticmethod
    def _is_index(path: str) -> bool:
        """A dir whose stats.json, resolved through its snapshot log
        (compaction commits a new one), exists."""
        return os.path.isdir(path) and IndexCatalog(path).has_json("stats.json")

    def create_index(
        self,
        name: str,
        transcripts: DataFrame,
        config: EngineConfig | None = None,
        build_id: str = "build-0",
        auto_mapping: bool = False,
        api_key: str | None = None,
    ) -> dict:
        """Create (or rebuild) a named index from a transcript DataFrame.
        Reference analog: POST /1/indexes + document batch add
        (app.c add_index handler; crud.robot).

        auto_mapping=True learns indexed_fields from the data before the
        first build — the reference's dynamic mapping discovery
        (mapping.c:537-601; see index/mapping.py)."""
        self._authorize(api_key, "index", name)
        if auto_mapping:
            from marlin_spark.index.mapping import (
                config_from_mapping,
                infer_mapping,
            )

            mapping = infer_mapping(transcripts)
            config = config_from_mapping(mapping, config)
        counters = IndexBuilder(
            self.spark, self.index_path(name), config
        ).build(transcripts, build_id)
        if auto_mapping:
            cat = IndexCatalog(self.index_path(name))
            cat.write_json("mapping.json", mapping)
            counters["mapping"] = mapping
        self._engines.pop(name, None)  # drop any stale engine snapshot
        return counters

    def delete_index(self, name: str, api_key: str | None = None) -> bool:
        """Drop a named index (app.c index delete handler)."""
        self._authorize(api_key, "index", name)
        path = self.index_path(name)
        self._engines.pop(name, None)
        if not os.path.exists(path):
            return False
        shutil.rmtree(path)
        return True

    def get_index(self, name: str) -> SearchEngine:
        """get_index_by_name analog (app.c:120-144): unknown names raise."""
        eng = self._engines.get(name)
        if eng is None:
            path = self.index_path(name)
            if not self._is_index(path):
                raise KeyError(f"Invalid indexName specified: {name!r}")
            eng = SearchEngine(self.spark, path)
            self._engines[name] = eng
        return eng

    # ------------------------------------------------------------- keys
    # Reference: every request carries X-Marlin-API-Key, validated
    # against the app's api key or the per-index keys with allowed
    # operations (api.c:161-215, app.c key handlers). Keys live in the
    # app dir (keys.json); enforcement turns on once any key exists.
    SCOPES = ("query", "index", "admin")

    def _keys_path(self) -> str:
        return os.path.join(self.dir, "keys.json")

    def _load_keys(self) -> dict:
        """keys.json, parsed once per content of the file: check_key on
        every request costs a read, not a parse. The bytes themselves are
        the cache key, so a write by any app on this dir is seen at once
        (a stat stamp can repeat: a freed inode is reused, and two writes
        of one size may share an mtime tick)."""
        try:
            with open(self._keys_path(), "rb") as f:
                raw = f.read()
        except FileNotFoundError:
            return {}
        cached = self._keys_cache
        if cached is not None and cached[0] == raw:
            return cached[1]
        keys = json.loads(raw)
        self._keys_cache = (raw, keys)
        return keys

    def _write_keys(self, keys: dict) -> None:
        """Atomic replace: a concurrent reader sees the old or the new
        file, never a partial one."""
        tmp = f"{self._keys_path()}.{os.getpid()}.{threading.get_ident()}.tmp"
        with open(tmp, "w") as f:
            json.dump(keys, f, indent=1)
        os.replace(tmp, self._keys_path())

    @staticmethod
    def _hash_key(key: str) -> str:
        import hashlib

        return hashlib.sha256(key.encode()).hexdigest()

    def create_api_key(
        self,
        scopes: tuple = ("query",),
        indexes: list[str] | None = None,
        description: str = "",
        api_key: str | None = None,
    ) -> str:
        """Mint a key limited to ``scopes`` and (optionally) ``indexes``
        (None = all). Returns the key string; only its sha256 is stored
        (keys.json never holds a usable credential). Key management is
        itself admin-scoped once any key exists — the reference routes
        key CRUD through admin-key-authenticated handlers
        (api.c:161-215); the very first key is mintable without auth
        (bootstrap, = the reference's generated master key)."""
        import secrets

        self._authorize(api_key, "admin", None)
        bad = set(scopes) - set(self.SCOPES)
        if bad or not scopes:
            raise ValueError(f"scopes must be among {self.SCOPES}, got {scopes}")
        key = secrets.token_hex(16)
        keys = dict(self._load_keys())  # the cached dict stays unchanged
        keys[self._hash_key(key)] = {
            "scopes": sorted(scopes),
            "indexes": sorted(indexes) if indexes is not None else None,
            "description": description,
        }
        self._write_keys(keys)
        return key

    def delete_api_key(self, key: str, api_key: str | None = None) -> bool:
        self._authorize(api_key, "admin", None)
        keys = dict(self._load_keys())
        h = self._hash_key(key)
        if h not in keys:
            return False
        del keys[h]
        self._write_keys(keys)
        return True

    def check_key(self, key: str | None, scope: str, index: str | None = None) -> bool:
        """True iff the request may proceed: no keys configured = open
        app (the reference's no-auth dev mode); otherwise the key must
        exist, carry the scope, and cover the index."""
        keys = self._load_keys()
        if not keys:
            return True
        meta = keys.get(self._hash_key(key or ""))
        if meta is None:
            return False
        if scope not in meta["scopes"] and "admin" not in meta["scopes"]:
            return False
        if index is not None and meta["indexes"] is not None:
            return index in meta["indexes"]
        return True

    def _authorize(self, key: str | None, scope: str, index: str | None) -> None:
        if not self.check_key(key, scope, index):
            raise PermissionError(
                f"api key not authorized for {scope} on {index!r}"
            )

    # ------------------------------------------------------------ query
    def query(self, index_name: str, q: str, api_key: str | None = None,
              k: int = 10, hydrate: bool = False, **kw) -> list[dict]:
        """Route one query to its index (app_index_query analog) and
        return its hits as dicts ranked: {docid, score}, plus the stored
        turn's columns with ``hydrate``. ``k`` must be in 1..max_hits.
        ``kw`` are SearchEngine.search's options; with ``filter_cond``,
        ``use_wand`` or ``hydrate`` the query runs as a Spark plan,
        otherwise through search_local."""
        self._authorize(api_key, "query", index_name)
        eng = self.get_index(index_name)
        if type(k) is not int or not 1 <= k <= eng.cfg.max_hits:
            raise ValueError(f"k must be an integer in 1..{eng.cfg.max_hits}, got {k!r}")
        if hydrate or kw.keys() - {"mode", "prefix_last"}:
            df = eng.search(q, k, **kw)
            if hydrate:
                df = eng.hydrate(df)
            return [r.asDict(recursive=True) for r in df.collect()]
        return [
            {"docid": d, "score": s} for d, s in eng.search_local(q, k, **kw)
        ]

    def multi_query(self, requests: list[dict]) -> list[dict]:
        """``requests`` array fan-out (app.c query_app_indexes_handler):
        each entry is {"indexName": ..., "query": ..., **search kwargs};
        failures are isolated per entry exactly like the reference's
        per-result success flag. A successful entry's ``hits`` are
        query()'s rows."""
        results = []
        for req in requests:
            try:
                name = req["indexName"]
                q = req.get("query", "")
                kw = {
                    k: v for k, v in req.items()
                    if k not in ("indexName", "query")
                }
                hits = self.query(name, q, **kw)
                results.append({"success": True, "hits": hits})
            except Exception as exc:  # isolate: one bad entry, not the batch
                results.append({"success": False, "error": str(exc)})
        return results

    @staticmethod
    def _check_name(name: str) -> None:
        # block path traversal only — dotted index names are legal
        # (the reference accepts any URL path segment)
        if (
            not name
            or name in (".", "..")
            or "/" in name
            or "\\" in name
            or os.sep in name
        ):
            raise ValueError(f"invalid index name {name!r}")
