"""Multi-index app surface (reference app.c:146-210 routing semantics)."""

import os

import pytest

from marlin_spark.app import MarlinApp
from marlin_spark.oracle.corpus import small_corpus


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    a = MarlinApp(spark, str(tmp_path_factory.mktemp("app")))
    rows = small_corpus(120)
    df = spark.createDataFrame(rows)
    a.create_index("alpha", df)
    a.create_index("beta", df.limit(200))
    return a


def test_registry_lists_created_indexes(app):
    assert app.list_indexes() == ["alpha", "beta"]


def test_query_routes_to_named_index(app):
    hits_a = app.query("alpha", "the", k=5)
    hits_b = app.query("beta", "the", k=5)
    assert len(hits_a) == 5
    # beta indexes a subset: same query, different corpus stats
    assert [r["docid"] for r in hits_a] != [] and len(hits_b) <= 5


def test_unknown_index_name_raises(app):
    with pytest.raises(KeyError, match="Invalid indexName"):
        app.get_index("nope")


def test_multi_query_isolates_failures(app):
    res = app.multi_query(
        [
            {"indexName": "alpha", "query": "the", "k": 3},
            {"indexName": "missing", "query": "the"},
            {"indexName": "beta", "query": "the", "k": 3},
        ]
    )
    assert [r["success"] for r in res] == [True, False, True]
    assert "Invalid indexName" in res[1]["error"]
    assert len(res[0]["hits"]) == 3


def test_delete_index_removes_and_invalidates(app):
    assert app.delete_index("beta") is True
    assert app.list_indexes() == ["alpha"]
    with pytest.raises(KeyError):
        app.get_index("beta")
    assert app.delete_index("beta") is False


def test_bad_names_rejected(app):
    for bad in ("", "a/b", "..", "x\\y"):
        with pytest.raises(ValueError):
            app.index_path(bad)


def test_api_keys_scope_and_index_limits(app):
    """API-key surface (reference api.c:161-215): no keys = open app;
    once keys exist, scope + index limits enforce on query and index
    ops; delete revokes."""
    import pytest as _pytest

    assert app.check_key(None, "query")  # open before any key exists
    # bootstrap: the FIRST key mints without auth (reference master key)
    admin = app.create_api_key(scopes=("admin",))
    # enforcement now on: key management itself requires admin
    with _pytest.raises(PermissionError):
        app.create_api_key(scopes=("query",))
    qkey = app.create_api_key(
        scopes=("query",), indexes=["alpha"], api_key=admin
    )
    # a query-scoped key cannot mint or revoke keys either
    with _pytest.raises(PermissionError):
        app.create_api_key(scopes=("admin",), api_key=qkey)
    with _pytest.raises(PermissionError):
        app.delete_api_key(admin, api_key=qkey)
    # no key -> denied
    with _pytest.raises(PermissionError):
        app.query("alpha", "the", k=2)
    assert len(app.query("alpha", "the", k=2, api_key=qkey)) == 2
    # wrong index for the scoped key
    with _pytest.raises(PermissionError):
        app.query("beta", "the", k=2, api_key=qkey)
    # query-only key cannot manage indexes; admin can do anything
    # (beta was dropped by an earlier test in this shared app fixture)
    with _pytest.raises(PermissionError):
        app.delete_index("alpha", api_key=qkey)
    assert len(app.query("alpha", "the", k=2, api_key=admin)) == 2
    # keys.json stores only sha256 digests, never the credential
    import json as _json

    stored = _json.load(open(app._keys_path()))
    assert qkey not in stored and admin not in stored
    # revocation restores denial, then removing all keys reopens
    assert app.delete_api_key(qkey, api_key=admin)
    with _pytest.raises(PermissionError):
        app.query("alpha", "the", k=2, api_key=qkey)
    assert app.delete_api_key(admin, api_key=admin)
    assert len(app.query("alpha", "the", k=2)) == 2


def test_keys_written_by_another_app_take_effect(app, spark, monkeypatch):
    """check_key parses keys.json once per content of the file, and keys
    minted or revoked through a second MarlinApp on the same dir apply
    to the first at once, also when the file keeps its size."""
    import json

    other = MarlinApp(spark, app.dir)
    assert app.check_key(None, "query")
    admin = other.create_api_key(scopes=("admin",))
    assert not app.check_key(None, "query")
    assert app.check_key(admin, "query", "alpha")
    qkey = other.create_api_key(scopes=("query",), api_key=admin)
    assert app.check_key(qkey, "query")
    loads = []
    real = json.loads
    monkeypatch.setattr(json, "loads", lambda raw: loads.append(1) or real(raw))
    for _ in range(20):
        assert app.check_key(qkey, "query")
    assert loads == []  # unchanged file: served from the cache
    # revoke one key and mint another like it: same file size, and
    # likely the same mtime tick
    size = os.path.getsize(os.path.join(app.dir, "keys.json"))
    assert other.delete_api_key(qkey, api_key=admin)
    fresh = other.create_api_key(scopes=("query",), api_key=admin)
    assert os.path.getsize(os.path.join(app.dir, "keys.json")) == size
    assert not app.check_key(qkey, "query")
    assert app.check_key(fresh, "query")
    assert other.delete_api_key(fresh, api_key=admin)
    assert not app.check_key(fresh, "query")
    assert other.delete_api_key(admin, api_key=admin)
    assert app.check_key(None, "query")
