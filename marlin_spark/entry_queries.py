"""Paired (Spark DataFrame, DuckDB SQL) query registry for the driver
contract (__spark_entry__.py).

Every entry implements an operator from SURVEY.md §2 or a training-data
pipeline op, as a Spark pipeline over the driver's parquet tables plus a
semantically-identical ANSI-SQL string for the DuckDB oracle. Rules kept
throughout:

- pure Catalyst expressions only (no Python UDFs) — entries must run
  under ANY SparkSession, including the driver's, without shipping the
  package to workers; the pandas_udf/marlin-analyzer engine paths are
  exercised by pytest + bench.py instead;
- every computed column aliased identically on both sides; floats rounded
  (6 dp) before output; sums cast to BIGINT; deterministic total
  ordering via unique trailing sort keys;
- the "simple" analyzer (lowercase, split non-[a-z0-9]) is the
  SQL-portable twin of the marlin analyzer (see operators/bm25_df.py).

The `transcripts` view is derived deterministically from `documents`
(conv_id=source, turn order by doc_id) so transcript-shaped operators are
oracle-checkable against the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marlin_spark.operators.bm25_df import (
    bm25_scores,
    bm25_sql,
    bm25_topk,
    simple_terms,
    tokens_df,
)

# --------------------------------------------------------------------- util

# Per-session parquet SCHEMA cache (catalog metadata only — never rows):
# every bare spark.read.parquet() runs a footer/schema-inference job, and
# each registry query re-opened its tables, paying that job once per
# query. A catalog-backed deployment gets the schema from the metastore;
# this is the path-table equivalent. Keyed on the SparkSession instance
# so nothing outlives or crosses sessions.
_SCHEMA_CACHE: dict = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    key = (id(spark), path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, f"{sf_dir}/events.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, f"{sf_dir}/lineitem.parquet")


# shared token-array fragments (round 6): a match-set test ("doc contains
# term X") is a per-row predicate over the split token array — doc_id is
# unique per documents row, so filter(array_contains(...)) is EXACTLY the
# old explode -> DISTINCT doc_id -> join/aggregate pipeline, minus every
# exchange. _TOKS_RAW keeps ''-entries (harmless for containment);
# _TOKS is the ''-filtered array whose 1-based positions match _POS_CTES.
_TOKS_RAW = "split(lower(text), '[^a-z0-9]+')"
_TOKS = f"filter({_TOKS_RAW}, t -> t <> '')"


def _contains(term: str):
    return F.array_contains(F.expr(_TOKS_RAW), term)


# deterministic transcripts view over documents (FIXTURES.md §1 schema)
def transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    return d.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("long").alias("turn_idx"),
        F.when(F.col("doc_id") % 4 == 0, "user")
        .when(F.col("doc_id") % 4 == 1, "assistant")
        .when(F.col("doc_id") % 4 == 2, "system")
        .otherwise("tool")
        .alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, "search")
        .when(F.col("doc_id") % 7 == 0, "python")
        .alias("tool"),
        F.col("doc_id"),
    )


TRANSCRIPTS_CTE = """transcripts AS (
  SELECT source AS conv_id,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::BIGINT AS turn_idx,
         CASE doc_id % 4 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'system' ELSE 'tool' END AS role,
         text,
         CASE WHEN doc_id % 3 = 0 THEN 'search'
              WHEN doc_id % 7 = 0 THEN 'python' END AS tool,
         doc_id
  FROM documents)"""


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# ════════════════════════════════════════════════════════ fulltext / BM25

@register("ft_bm25_topk", bm25_sql("spark join table", k=10))
def ft_bm25_topk(spark, sf_dir):
    """Top-10 BM25, disjunctive (SURVEY §2.3/§2.6; north rule query)."""
    return bm25_topk(_docs(spark, sf_dir), "spark join table", k=10)


@register("ft_bm25_conjunctive", bm25_sql("data window batch", k=20, mode="all"))
def ft_bm25_conjunctive(spark, sf_dir):
    """mode=all: every query word required (marlin AND combine analog)."""
    return bm25_topk(_docs(spark, sf_dir), "data window batch", k=20, mode="all")


@register("ft_bm25_head_term", bm25_sql("the a value", k=100))
def ft_bm25_head_term(spark, sf_dir):
    """Head (max-df) terms, k=100 — WAND stress analog (FIXTURES §4.8)."""
    return bm25_topk(_docs(spark, sf_dir), "the a value", k=100)


@register(
    "ft_match_all_page2",
    "SELECT doc_id, 0.0 AS score FROM documents ORDER BY doc_id LIMIT 20 OFFSET 20",
)
def ft_match_all_page2(spark, sf_dir):
    """Empty query + pagination page 2 (reference: empty query = all docs,
    squery.c:216-220; page slice query.c:326-338)."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.lit(0.0).alias("score"))
        .orderBy("doc_id")
        .offset(20)
        .limit(20)
    )


@register(
    "ft_term_match_count",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents)
SELECT count(DISTINCT doc_id)::BIGINT AS n_matches FROM toks WHERE term = 'spark'""",
)
def ft_term_match_count(spark, sf_dir):
    """Single-term match cardinality (posting-list length)."""
    return (
        _docs(spark, sf_dir)
        .filter(_contains("spark"))
        .agg(F.count("*").alias("n_matches"))
    )


@register(
    "ft_dictionary_head",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents),
t2 AS (SELECT * FROM toks WHERE term <> '')
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM t2 GROUP BY term ORDER BY df DESC, term LIMIT 30""",
)
def ft_dictionary_head(spark, sf_dir):
    """Term dictionary head: (term, df, cf) — dtrie/wid analog (SURVEY §1.3).

    Two plain hash aggregations — (term, doc) tf then per-term
    df=count/cf=sum — instead of countDistinct+count in one aggregate.
    Spark plans the single countDistinct through the same
    (term, doc)-grouping rewrite (identical 2-Exchange shape), but the
    distinct-aggregate operators compile and run measurably heavier:
    first run 2.8 s -> 0.5 s, warm 0.51 -> 0.45 s (same session,
    sf0.1, local[32])."""
    toks = tokens_df(_docs(spark, sf_dir), "doc_id", "text")
    return (
        toks.groupBy("term", "_doc")
        .agg(F.count("*").alias("c"))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("c").alias("cf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(30)
    )


@register(
    "ft_prefix_terms",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df
FROM toks WHERE term LIKE 'st%' GROUP BY term ORDER BY term""",
)
def ft_prefix_terms(spark, sf_dir):
    """Prefix range scan over the dictionary (dtrie subtree walk analog,
    /root/reference/src/main/dtrie.c:642-700). Prefix filter + per-doc
    dedup run INSIDE the token array before the explode, so the exchange
    carries only matching (doc, term) pairs and the aggregate is a plain
    count (no two-phase countDistinct)."""
    return (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    f"array_distinct(filter({_TOKS_RAW}, t -> startswith(t, 'st')))"
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy("term")
    )


@register(
    "ft_prefix_short",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents)
SELECT count(DISTINCT doc_id)::BIGINT AS n_matches FROM toks WHERE term LIKE 'v%'""",
)
def ft_prefix_short(spark, sf_dir):
    """1-char prefix match cardinality — the reference's hottest workload
    shape (random 1-8-char prefixes, test/wrk/reddit.lua:13-27), served
    at engine level by the precomputed prefix_accel/ docid blobs
    (index/prefix_accel.py; dtrie.c:355-375 analog)."""
    return (
        _docs(spark, sf_dir)
        .filter(F.exists(F.expr(_TOKS_RAW), lambda t: t.startswith("v")))
        .agg(F.count("*").alias("n_matches"))
    )


@register(
    "ft_doc_lengths",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents),
t2 AS (SELECT * FROM toks WHERE term <> '')
SELECT doc_id, count(*)::BIGINT AS dl FROM t2 GROUP BY doc_id ORDER BY doc_id LIMIT 100""",
)
def ft_doc_lengths(spark, sf_dir):
    # dl is the filtered token array's size — no explode, no groupBy;
    # the dl > 0 filter keeps the old semantics (token-less docs had no
    # exploded rows, hence no group)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.size(F.expr(_TOKS)).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "ft_collection_stats",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents),
t2 AS (SELECT * FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id)
SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl, sum(dl)::BIGINT AS total_tokens FROM dl""",
)
def ft_collection_stats(spark, sf_dir):
    # same array-size dl as ft_doc_lengths: one narrow scan + scalar agg
    dl = (
        _docs(spark, sf_dir)
        .select(F.size(F.expr(_TOKS)).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
    )
    return dl.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
        F.sum("dl").alias("total_tokens"),
    )


@register(
    "ft_idf",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents),
t2 AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM t2),
q(term) AS (VALUES ('spark'), ('join'), ('table'), ('zzzunknownzzz')),
dfs AS (SELECT q.term, count(t2.doc_id)::BIGINT AS df FROM q LEFT JOIN t2 USING (term) GROUP BY q.term)
SELECT term, df, round(ln((n.n - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
FROM dfs CROSS JOIN n ORDER BY term""",
)
def ft_idf(spark, sf_dir):
    """Per-term df + Robertson idf, incl. an unseen term (df=0 path).
    N and every df are containment counts over the token array — ONE
    aggregate job replaces the exploded-distinct count + left join +
    groupBy (idf math unchanged, still evaluated by Catalyst)."""
    terms = ["spark", "join", "table", "zzzunknownzzz"]
    stats = _docs(spark, sf_dir).agg(
        F.count(F.when(F.size(F.expr(_TOKS)) > 0, F.lit(1))).alias("n"),
        *[
            F.count(F.when(_contains(t), F.lit(1))).alias(f"df{i}")
            for i, t in enumerate(terms)
        ],
    ).collect()[0]
    n = int(stats["n"])
    q = spark.createDataFrame(
        [(t, int(stats[f"df{i}"])) for i, t in enumerate(terms)],
        "term string, df long",
    )
    return q.select(
        "term",
        "df",
        F.round(
            F.log((float(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 6
        ).alias("idf"),
    ).orderBy("term")


@register(
    "ft_facet_lang",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents),
m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'data')
SELECT lang, count(*)::BIGINT AS count FROM documents JOIN m USING (doc_id)
GROUP BY lang ORDER BY count DESC, lang LIMIT 10""",
)
def ft_facet_lang(spark, sf_dir):
    """Facet counts over the match set (SURVEY §2.5 facet counting)."""
    d = _docs(spark, sf_dir)
    return (
        d.filter(_contains("data"))
        .groupBy("lang")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("lang"))
        .limit(10)
    )


@register(
    "ft_metric_stats",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents),
m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'table')
SELECT min(n_chars)::BIGINT AS min, max(n_chars)::BIGINT AS max,
       round(avg(n_chars), 6) AS avg, sum(n_chars)::BIGINT AS sum, count(*)::BIGINT AS count
FROM documents JOIN m USING (doc_id)""",
)
def ft_metric_stats(spark, sf_dir):
    """stats metric agg over matched docs (metric-aggs.c:145-218 analog)."""
    d = _docs(spark, sf_dir)
    return d.filter(_contains("table")).agg(
        F.min("n_chars").alias("min"),
        F.max("n_chars").alias("max"),
        F.round(F.avg("n_chars"), 6).alias("avg"),
        F.sum("n_chars").alias("sum"),
        F.count("*").alias("count"),
    )


@register(
    "ft_filtered_bm25",
    bm25_sql(
        "data table",
        k=10,
        post_filter_sql="src.lang = 'en' AND src.n_chars BETWEEN 100 AND 400",
    ),
)
def ft_filtered_bm25(spark, sf_dir):
    """BM25 + filter: index-wide stats, filter ANDed onto the match set
    (marlin squery.c:377-395 semantics)."""
    d = _docs(spark, sf_dir)
    # the filter columns are functionally dependent on doc_id, so the
    # old left_semi join against the filtered id set is exactly a
    # predicate on the scored row itself — carry (lang, n_chars) through
    # the (narrow) scoring scan and filter in place: no join, no exchange
    scored = bm25_scores(d, "data table", extra_cols=("lang", "n_chars"))
    return (
        scored.filter((F.col("lang") == "en") & F.col("n_chars").between(100, 400))
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "ft_cardinality",
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents),
m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'query')
SELECT count(DISTINCT source)::BIGINT AS cardinality FROM documents JOIN m USING (doc_id)""",
)
def ft_cardinality(spark, sf_dir):
    """Exact cardinality agg (reference metric-aggs.c:10-103; HLL was its
    TODO — approx_count_distinct is this engine's scale variant)."""
    d = _docs(spark, sf_dir)
    return d.filter(_contains("query")).agg(
        F.countDistinct("source").alias("cardinality")
    )


_POS_CTES = """toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS l
  FROM documents),
pos AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS idx FROM toks)"""


def _pos_df(spark, sf_dir):
    """(doc_id, term, idx) with 1-based idx — Catalyst twin of _POS_CTES."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.posexplode(
            F.expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
        ).alias("idx0", "term"),
    ).select("doc_id", "term", (F.col("idx0") + 1).alias("idx"))


@register(
    "ft_phrase_match",
    f"""WITH {_POS_CTES}
SELECT DISTINCT a.doc_id AS doc_id
FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
WHERE a.term = 'table' AND b.term = 'hash' ORDER BY a.doc_id""",
)
def ft_phrase_match(spark, sf_dir):
    """Exact phrase match "table hash" from token positions — the SQL
    twin of SearchEngine.phrase_match (positional postings adjacency;
    the reference declared but never wrote its phrase index,
    /root/reference/src/main/sindex.c:718-724). Round-6 shape: the
    adjacency test runs INSIDE each doc's token array (zip_with the
    array against its own 1-shifted tail) — same positional semantics as
    the old positional self-join, with zero exchanges; doc_id is unique
    so the old DISTINCT is a no-op."""
    adjacent = F.expr(
        f"exists(zip_with({_TOKS}, slice({_TOKS}, 2, greatest(size({_TOKS}) - 1, 0)), "
        "(a, b) -> a = 'table' AND b = 'hash'), x -> x)"
    )
    return (
        _docs(spark, sf_dir)
        .filter(adjacent)
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "ft_marlin_match",
    f"""WITH {_POS_CTES},
t AS (SELECT DISTINCT doc_id, term FROM pos),
m1 AS (SELECT DISTINCT doc_id FROM t WHERE term IN ('table', 'tablehash')),
m2 AS (SELECT DISTINCT doc_id FROM t WHERE term IN ('tablehash', 'hash')),
comb AS (SELECT DISTINCT doc_id FROM t WHERE term = 'tablehash')
SELECT doc_id FROM (
  (SELECT doc_id FROM m1 INTERSECT SELECT doc_id FROM m2)
  UNION SELECT doc_id FROM comb
) ORDER BY doc_id""",
)
def ft_marlin_match(spark, sf_dir):
    """The marlin term algebra for "table hash" in pure Catalyst: words
    generate [w1, w1w2, w2]; doc matches iff (w1|w1w2) AND (w1w2|w2), OR
    the concatenation w1w2 (term generation query.c:489-603, combine
    squery.c:212-277). Engine twin: SearchEngine.match_marlin.

    The set algebra (INTERSECT/UNION over distinct doc_id sets drawn
    from one table) is per-doc boolean logic over containment tests —
    doc_id is unique, so the whole combine is one predicate on the token
    array: zero exchanges instead of five set operations."""
    c1 = _contains("table") | _contains("tablehash")
    c2 = _contains("tablehash") | _contains("hash")
    c3 = _contains("tablehash")
    return (
        _docs(spark, sf_dir)
        .filter((c1 & c2) | c3)
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "ft_fuzzy_term",
    """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term FROM documents),
d AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY term)
SELECT term, df FROM d WHERE levenshtein(term, 'tible') <= 1 ORDER BY term""",
)
def ft_fuzzy_term(spark, sf_dir):
    """Fuzzy dictionary expansion within Levenshtein distance 1 of the
    typo 'tible' — JVM-side F.levenshtein over the derived dictionary
    (both engines implement identical plain-Levenshtein, so this pins the
    expansion exactly; the engine's full Damerau/OSA + prefix semantics
    are pinned by levenshtein.robot goldens in tests/test_typo.py)."""
    # per-doc dedup + the levenshtein prune run BEFORE the aggregation:
    # only edit-distance-1 (doc, term) survivors reach the exchange, and
    # df becomes a plain count (the old shape shipped the full token
    # stream through a two-phase countDistinct, then threw away all but
    # a handful of dictionary rows)
    return (
        _docs(spark, sf_dir)
        .select(
            F.explode(F.expr(f"array_distinct({_TOKS})")).alias("term")
        )
        .filter(F.levenshtein(F.col("term"), F.lit("tible")) <= 1)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy("term")
    )


@register(
    "ft_highlight_counts",
    f"""WITH {_POS_CTES}
SELECT doc_id, count(*)::BIGINT AS n_hits, min(idx)::BIGINT AS first_pos
FROM pos WHERE term = 'data' GROUP BY doc_id
ORDER BY n_hits DESC, doc_id LIMIT 20""",
)
def ft_highlight_counts(spark, sf_dir):
    """Highlight support data: per-doc occurrence count + first position
    of the query term (snippet anchor) — what query/highlight.py consumes
    (reference emits <em> spans in form_result, query.c:385-401)."""
    # per-doc occurrence count and first 1-based position straight off
    # the token array (size(filter(...)), array_position) — the old
    # posexplode + groupBy pair collapses to a scan + TakeOrdered
    toks = F.expr(_TOKS)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(F.filter(toks, lambda t: t == "data"))
            .cast("long")
            .alias("n_hits"),
            F.array_position(toks, "data").alias("first_pos"),
        )
        .filter(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(20)
    )


# ═══════════════════════════════════════════════════ transcripts-shaped

@register(
    "tr_docid_assignment",
    f"""WITH {TRANSCRIPTS_CTE},
d AS (SELECT conv_id, turn_idx, row_number() OVER (ORDER BY conv_id, turn_idx) AS docid FROM transcripts)
SELECT docid, conv_id, turn_idx FROM d ORDER BY docid LIMIT 200""",
)
def tr_docid_assignment(spark, sf_dir):
    """Deterministic dense docid = rank of (conv_id, turn_idx) — the
    engine's docid contract (SURVEY §1.1)."""
    t = transcripts_df(spark, sf_dir)
    w = Window.orderBy("conv_id", "turn_idx")
    return (
        t.select("conv_id", "turn_idx")
        .withColumn("docid", F.row_number().over(w).cast("long"))
        .select("docid", "conv_id", "turn_idx")
        .orderBy("docid")
        .limit(200)
    )


@register(
    "tr_bm25_topk",
    bm25_sql(
        "stream batch window",
        k=10,
        table="transcripts",
        id_col="doc_id",
        extra_ctes=TRANSCRIPTS_CTE,
    ),
)
def tr_bm25_topk(spark, sf_dir):
    """BM25 over transcript turns (the north-rule query, oracle-checked
    via the derived transcripts view)."""
    return bm25_topk(
        transcripts_df(spark, sf_dir), "stream batch window", k=10, id_col="doc_id"
    )


@register(
    "tr_role_facet",
    f"WITH {TRANSCRIPTS_CTE} "
    "SELECT role, count(*)::BIGINT AS count FROM transcripts GROUP BY role "
    "ORDER BY count DESC, role",
)
def tr_role_facet(spark, sf_dir):
    return (
        transcripts_df(spark, sf_dir)
        .groupBy("role")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("role"))
    )


@register(
    "tr_tool_facet",
    f"WITH {TRANSCRIPTS_CTE} "
    "SELECT tool, count(*)::BIGINT AS count FROM transcripts "
    "WHERE tool IS NOT NULL GROUP BY tool ORDER BY count DESC, tool",
)
def tr_tool_facet(spark, sf_dir):
    return (
        transcripts_df(spark, sf_dir)
        .filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("tool"))
    )


@register(
    "tr_conv_stats",
    f"""WITH {TRANSCRIPTS_CTE}
SELECT conv_id, count(*)::BIGINT AS n_turns, max(turn_idx)::BIGINT AS max_turn
FROM transcripts GROUP BY conv_id ORDER BY n_turns DESC, conv_id LIMIT 10""",
)
def tr_conv_stats(spark, sf_dir):
    return (
        transcripts_df(spark, sf_dir)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"), F.max("turn_idx").alias("max_turn"))
        .orderBy(F.desc("n_turns"), F.asc("conv_id"))
        .limit(10)
    )


@register(
    "tr_filter_matrix",
    f"""WITH {TRANSCRIPTS_CTE}
SELECT role, count(*)::BIGINT AS count FROM transcripts
WHERE turn_idx BETWEEN 2 AND 5 AND role IN ('user', 'tool')
GROUP BY role ORDER BY role""",
)
def tr_filter_matrix(spark, sf_dir):
    """$gte+$lte range fusion + $in filter (SURVEY §2.4)."""
    from marlin_spark.query.filters import filter_to_column

    cond = filter_to_column(
        {"turn_idx": {"$gte": 2, "$lte": 5}, "role": {"$in": ["user", "tool"]}}
    )
    return (
        transcripts_df(spark, sf_dir)
        .filter(cond)
        .groupBy("role")
        .agg(F.count("*").alias("count"))
        .orderBy("role")
    )


# ═══════════════════════════════════════════════ dedup (training pipeline)

_SHINGLE_SPARK = (
    "CASE WHEN size(toks) >= 3 THEN "
    "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3))) "
    "ELSE CAST(array() AS array<string>) END"
)

# hot-shingle df cap (mirrored Spark/SQL): a shingle shared by more docs
# than this carries no near-dup signal but makes the pair join quadratic
# in its df — dropping it bounds every reducer (operators/dedup.py has
# the configurable form + rationale). 1000 is far above any df at the
# test scales, so results are unchanged there while the plan is skew-safe.
_SHINGLE_MAX_DF = 1000

_SHINGLE_CTES = f"""toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS l
  FROM documents),
pos AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS idx FROM toks),
sh0 AS (SELECT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS s
        FROM pos a
        JOIN pos b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
        JOIN pos c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2),
shall AS (SELECT DISTINCT doc_id, s FROM sh0),
shkeep AS (SELECT s FROM shall GROUP BY s HAVING count(*) <= {_SHINGLE_MAX_DF}),
sh AS (SELECT shall.doc_id, shall.s FROM shall JOIN shkeep USING (s)),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)"""


def _shingles_df(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')").alias(
            "toks"
        ),
    )
    # distinct (doc_id, s) without a shuffle: doc_id is unique per row,
    # so array_distinct before the explode IS the old .distinct()
    sh = toks.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_SHINGLE_SPARK))).alias("s"),
    )
    # hot-shingle df cap as a window count over s: ONE exchange on s
    # (whose partitioning the downstream pair self-join reuses) instead
    # of the old groupBy(s) + join-back pair of exchanges; a skewed-hot
    # shingle is exactly what the cap drops, so the window partition is
    # bounded by max_df at scale
    w = Window.partitionBy("s")
    return (
        sh.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") <= _SHINGLE_MAX_DF)
        .select("doc_id", "s")
    )


@register(
    "dd_exact",
    "SELECT md5(text) AS h, count(*)::BIGINT AS n, min(doc_id)::BIGINT AS first_doc "
    "FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY h",
)
def dd_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy duplicate groups (map-side combinable)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.expr("md5(text)").alias("h"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n") > 1)
        .orderBy("h")
    )


@register(
    "dd_exact_keep_first",
    """WITH h AS (SELECT doc_id, md5(substr(text, 1, 40)) AS h FROM documents),
r AS (SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM h)
SELECT doc_id FROM r WHERE rn > 1 ORDER BY doc_id""",
)
def dd_exact_keep_first(spark, sf_dir):
    """Dedup representative selection: keep the first doc of each
    duplicate group (40-char-prefix fingerprint — the synthetic corpus
    has no full-text dups at small SF), emit the DROPPED ids (the
    ANDNOT/delete list a training pipeline feeds downstream). Window per
    hash — shuffles once on the hash key, no self-join."""
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr("md5(substr(text, 1, 40))").alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "ft_doc_size_stats",
    """SELECT min(length(text))::BIGINT AS min_len, max(length(text))::BIGINT AS max_len,
round(avg(length(text)), 6) AS avg_len, count(*)::BIGINT AS n FROM documents""",
)
def ft_doc_size_stats(spark, sf_dir):
    """Doc-size stats (SURVEY §2.5; reference exposes stored-blob size
    stats per index — sdata blob accounting, sdata.c:162-181)."""
    return _docs(spark, sf_dir).agg(
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
        F.round(F.avg(F.length("text")), 6).alias("avg_len"),
        F.count("*").alias("n"),
    )


@register(
    "dd_ngram_jaccard",
    f"""WITH {_SHINGLE_CTES},
pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
SELECT a, b, round(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
FROM pr JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8
ORDER BY a, b""",
)
def dd_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by word-3-gram Jaccard >= 0.8. The pair join is on
    shared shingles (inverted-index join), never a cross join — the
    standard candidate-generation trick that scales to 100 TB because
    only docs sharing a shingle ever meet in the shuffle."""
    sh = _shingles_df(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("x"), sh.alias("y")
    pr = (
        a.join(b, (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    ca = cnt.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pr.join(ca, "a")
        .join(cb, "b")
        .filter(j >= 0.8)
        .select("a", "b", F.round(j, 6).alias("jaccard"))
        .orderBy("a", "b")
    )


@register(
    "dd_connected_components",
    f"""WITH RECURSIVE {_SHINGLE_CTES},
pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
pj AS (SELECT a, b FROM pr JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
       WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8),
e AS (SELECT a AS src, b AS dst FROM pj UNION SELECT b AS src, a AS dst FROM pj),
cc(node, label) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, cc.label FROM cc JOIN e ON e.src = cc.node
),
comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node)
SELECT node::BIGINT AS doc_id, component::BIGINT AS component
FROM comp ORDER BY doc_id""",
)
def dd_connected_components(spark, sf_dir):
    """Transitive dedup closure (round-3 verdict Missing #2): connected
    components over the near-dup pair graph, so A~C, B~C collapse to ONE
    survivor even though A and B never pair directly (greedy pair
    removal keeps both). Pairs = word-3-gram Jaccard >= 0.8 (same plan
    as dd_ngram_jaccard); closure = iterative min-label propagation
    (operators/dedup.py connected_components — bounded iterations,
    checkpointed frontier). Oracle: DuckDB recursive CTE reachability.
    """
    from marlin_spark.operators.dedup import connected_components

    sh = _shingles_df(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("x"), sh.alias("y")
    pr = (
        a.join(b, (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    ca = cnt.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    pairs = pr.join(ca, "a").join(cb, "b").filter(j >= 0.8).select("a", "b")

    return (
        # lineage cuts via localCheckpoint here: the operator supports
        # reliable checkpoints (pass checkpoint_dir; pytest-pinned), and a
        # cluster deployment would hand it a DFS path — but this entry's
        # old tempfile dir lived on the DRIVER's local disk, which dies
        # with the node exactly like a localCheckpoint does, so the
        # reliable-mode writes bought no fault tolerance here and cost
        # ~1.8 s/run at sf0.1 (measured round 6).
        # dedup_edges=False: pairs come out of a groupBy(a, b) — already
        # unique — so the edge distinct was a pure extra shuffle
        connected_components(pairs, dedup_edges=False)
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


@register(
    "dd_minhash_lsh",
    f"""WITH {_SHINGLE_CTES},
sigs AS (SELECT doc_id, h.range AS h, min(md5(h.range::VARCHAR || '|' || s)) AS sig
         FROM sh CROSS JOIN range(8) h GROUP BY 1, 2),
bands AS (SELECT doc_id, (h // 2) AS band, string_agg(sig, '' ORDER BY h) AS bucket
          FROM sigs GROUP BY 1, 2),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
pr AS (SELECT c.a, c.b, count(*) AS inter
       FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b AND y.s = x.s
       GROUP BY 1, 2)
SELECT pr.a, pr.b, round(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
FROM pr JOIN cnt ca ON ca.doc_id = pr.a JOIN cnt cb ON cb.doc_id = pr.b
WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5
ORDER BY pr.a, pr.b""",
)
def dd_minhash_lsh(spark, sf_dir):
    """MinHash (8 hashes, md5-keyed) -> 4 LSH bands of 2 -> bucket join ->
    exact Jaccard verification >= 0.5. shingle->minhash->band->bucket-join
    per the task spec; bucket join keeps candidate generation linear-ish
    in duplicates rather than quadratic in corpus size."""
    # the kept-shingle set is referenced ~12x across signature build,
    # candidate join and verification — materialize it once inside this
    # query (localCheckpoint truncates the lineage, so Catalyst plans a
    # 1-node scan instead of optimizing a 12x-inlined subtree; recomputed
    # from parquet on every invocation, nothing persists across queries)
    sh = _shingles_df(spark, sf_dir).localCheckpoint(eager=True)
    # all 8 minhashes in ONE map-side-combinable aggregation (one
    # shuffle of 8-column partials) instead of the xN row explosion +
    # groupBy(doc_id, h) + collect_list band re-aggregation — ~6x less
    # shuffled data, same signatures
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"md5(concat('{h}|', s))")).alias(f"sig{h}")
            for h in range(8)
        ]
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(
                            F.col(f"sig{2 * b}"), F.col(f"sig{2 * b + 1}")
                        ).alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
        # no lineage cut here: the array-based verification rewrite
        # (below) consumes cand exactly ONCE, so the eager checkpoint
        # that the old 3-way verification join needed became pure
        # overhead (one extra materialization job; +0.8 s warm in the
        # round-6 A/B — interleaved 4x4 runs, both orders)
    )
    # exact-Jaccard verification on per-doc KEPT-shingle sets: two joins
    # of the candidate pairs against (doc -> shingle array, n) and a
    # narrow array_intersect, instead of the old exploded shingle
    # equi-join + groupBy(a, b) + two count joins (5 stages -> 2).
    # Shingle sets are distinct per doc, so |array_intersect| is exactly
    # the old per-pair match count; work remains collision-proportional
    # (only candidate pairs are verified) and per-row state is bounded
    # by doc length.
    kept = sh.groupBy("doc_id").agg(
        F.collect_list("s").alias("ss"), F.count("*").alias("n")
    )
    ja = kept.select(
        F.col("doc_id").alias("a"), F.col("ss").alias("sa"), F.col("n").alias("na")
    )
    jb = kept.select(
        F.col("doc_id").alias("b"), F.col("ss").alias("sb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    j = inter / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(ja, "a")
        .join(jb, "b")
        .filter(j >= 0.5)
        .select("a", "b", F.round(j, 6).alias("jaccard"))
        .orderBy("a", "b")
    )


_SIMHASH_SUMS_SQL = """sum(CASE WHEN substr(h, 1, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s0,
         sum(CASE WHEN substr(h, 1, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s1,
         sum(CASE WHEN substr(h, 1, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s2,
         sum(CASE WHEN substr(h, 1, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s3,
         sum(CASE WHEN substr(h, 2, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s4,
         sum(CASE WHEN substr(h, 2, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s5,
         sum(CASE WHEN substr(h, 2, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s6,
         sum(CASE WHEN substr(h, 2, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s7,
         sum(CASE WHEN substr(h, 3, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s8,
         sum(CASE WHEN substr(h, 3, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s9,
         sum(CASE WHEN substr(h, 3, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s10,
         sum(CASE WHEN substr(h, 3, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s11,
         sum(CASE WHEN substr(h, 4, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s12,
         sum(CASE WHEN substr(h, 4, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s13,
         sum(CASE WHEN substr(h, 4, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s14,
         sum(CASE WHEN substr(h, 4, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s15,
         sum(CASE WHEN substr(h, 5, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s16,
         sum(CASE WHEN substr(h, 5, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s17,
         sum(CASE WHEN substr(h, 5, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s18,
         sum(CASE WHEN substr(h, 5, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s19,
         sum(CASE WHEN substr(h, 6, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s20,
         sum(CASE WHEN substr(h, 6, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s21,
         sum(CASE WHEN substr(h, 6, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s22,
         sum(CASE WHEN substr(h, 6, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s23,
         sum(CASE WHEN substr(h, 7, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s24,
         sum(CASE WHEN substr(h, 7, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s25,
         sum(CASE WHEN substr(h, 7, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s26,
         sum(CASE WHEN substr(h, 7, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s27,
         sum(CASE WHEN substr(h, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1 ELSE -1 END) AS s28,
         sum(CASE WHEN substr(h, 8, 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1 ELSE -1 END) AS s29,
         sum(CASE WHEN substr(h, 8, 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s30,
         sum(CASE WHEN substr(h, 8, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) AS s31"""

_SIMHASH_VALUE_SQL = "(CASE WHEN s0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN s1 > 0 THEN 2 ELSE 0 END) + (CASE WHEN s2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END) + (CASE WHEN s4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN s5 > 0 THEN 32 ELSE 0 END) + (CASE WHEN s6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN s7 > 0 THEN 128 ELSE 0 END) + (CASE WHEN s8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN s9 > 0 THEN 512 ELSE 0 END) + (CASE WHEN s10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN s11 > 0 THEN 2048 ELSE 0 END) + (CASE WHEN s12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN s13 > 0 THEN 8192 ELSE 0 END) + (CASE WHEN s14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN s15 > 0 THEN 32768 ELSE 0 END) + (CASE WHEN s16 > 0 THEN 65536 ELSE 0 END) + (CASE WHEN s17 > 0 THEN 131072 ELSE 0 END) + (CASE WHEN s18 > 0 THEN 262144 ELSE 0 END) + (CASE WHEN s19 > 0 THEN 524288 ELSE 0 END) + (CASE WHEN s20 > 0 THEN 1048576 ELSE 0 END) + (CASE WHEN s21 > 0 THEN 2097152 ELSE 0 END) + (CASE WHEN s22 > 0 THEN 4194304 ELSE 0 END) + (CASE WHEN s23 > 0 THEN 8388608 ELSE 0 END) + (CASE WHEN s24 > 0 THEN 16777216 ELSE 0 END) + (CASE WHEN s25 > 0 THEN 33554432 ELSE 0 END) + (CASE WHEN s26 > 0 THEN 67108864 ELSE 0 END) + (CASE WHEN s27 > 0 THEN 134217728 ELSE 0 END) + (CASE WHEN s28 > 0 THEN 268435456 ELSE 0 END) + (CASE WHEN s29 > 0 THEN 536870912 ELSE 0 END) + (CASE WHEN s30 > 0 THEN 1073741824 ELSE 0 END) + (CASE WHEN s31 > 0 THEN 2147483648 ELSE 0 END)"


@register(
    "dd_simhash",
    f"""WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents),
th AS (SELECT DISTINCT doc_id, md5(term) AS h FROM toks),
sums AS (SELECT doc_id,
         {{sums}}
         FROM th GROUP BY doc_id),
sim AS (SELECT doc_id, ({{val}})::BIGINT AS simhash FROM sums)
SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
FROM sim x JOIN sim y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 1
ORDER BY a, b""".format(sums=_SIMHASH_SUMS_SQL, val=_SIMHASH_VALUE_SQL),
)
def dd_simhash(spark, sf_dir):
    """32-bit SimHash over distinct terms (md5 bit sampling), near-dup
    pairs at Hamming distance <= 1. The bit arithmetic is portable
    hex-char CASE logic so DuckDB verifies it exactly.

    The pair join is BANDED (4 bands of 8 simhash bits, equality hash
    join): a Hamming<=1 pair agrees on >= 3 bands, so candidate
    generation is exact with zero recall loss — and it is a shuffled
    hash join on (band_idx, band_val), never a BroadcastNestedLoopJoin
    over doc_id< (the round-1 plan, O(n^2) at scale). The DuckDB oracle
    keeps the direct self-join form: same result set, and the oracle
    only ever runs at verification scale."""
    from marlin_spark.operators.dedup import banded_hamming_pairs

    d = _docs(spark, sf_dir)
    # distinct (doc_id, term) straight off the token array: doc_id is
    # unique per documents row, so explode(array_distinct(tokens)) IS the
    # old tokens_df().distinct() / md5().distinct() — minus two full
    # shuffles; the only exchange left before the band join is the
    # map-side-combinable 32-sum aggregation
    th = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
            )
        ).alias("term"),
    ).select("doc_id", F.expr("md5(term)").alias("h"))
    # the same 32 sum-of-sign columns, but evaluated as bit tests on the
    # big-endian-parsed first 8 hex chars instead of 32 substr + 8-way
    # string INs per row: hex char at 1-based position p carries bits
    # (28 - 4*(p-1))..(31 - 4*(p-1)) of v, and the IN-lists in
    # _SIMHASH_SUMS_SQL are exactly "nibble bit b set", so
    # s_{4*(p-1)+b} == sum(sign of ((v >> (28 - 4*(p-1) + b)) & 1)).
    # Integer logic — identical sums, far cheaper codegen + execution.
    # (The dedup set stays keyed on the FULL md5: two distinct hashes
    # sharing their first 8 chars still contribute twice, as before.)
    th = th.withColumn(
        "v", F.expr("cast(conv(substr(h, 1, 8), 16, 10) as bigint)")
    )
    sum_exprs = [
        F.expr(
            f"sum(CASE WHEN shiftright(v, {28 - 4 * (i // 4) + (i % 4)}) & 1 = 1 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"s{i}")
        for i in range(32)
    ]
    sums = th.groupBy("doc_id").agg(*sum_exprs)
    sim = sums.select("doc_id", F.expr(_SIMHASH_VALUE_SQL).cast("long").alias("simhash"))
    return banded_hamming_pairs(sim, bits=32, n_bands=4, max_hamming=1).orderBy(
        "a", "b"
    )


# ════════════════════════════════════════════ similarity search (ANN)

_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
)
_NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"


def _dot_col(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_col(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _qvec_lit(spark, sf_dir, vec_id=0):
    row = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()[0]
    )
    return F.array(*[F.lit(float(v)) for v in row["embedding"]])


# ---- round-6 ANN fast path helpers ---------------------------------------
# Two planner-side fixes, both value-identical:
# - _vecs_rows batches the per-vector _qvec_lit collects (one job instead
#   of one per query/centroid/plane vector);
# - _norm_py computes the norm of a LITERAL vector once in Python instead
#   of re-folding the literal array per row: double *, + and sqrt are
#   exact-rounded IEEE ops applied to the same values in the same order,
#   so the result is bit-identical to the JVM fold.
# (An expanded getItem-chain dot product was tried and REVERTED: 64-deep
# Add trees cost more in Catalyst planning/codegen than the interpreted
# fold saves — see OPTIMIZATION_r06.md.)

def _vecs_rows(spark, sf_dir, ids):
    """ONE bounded collect for several planner vectors."""
    rows = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id").isin([int(i) for i in ids]))
        .select("vec_id", "embedding")
        .collect()
    )
    byid = {int(r["vec_id"]): [float(v) for v in r["embedding"]] for r in rows}
    return [byid[int(i)] for i in ids]


def _lit_arr(vec):
    return F.array(*[F.lit(float(v)) for v in vec])


def _dot_lit(col, vec):
    return _dot_col(col, _lit_arr(vec))


def _norm_py(vec) -> float:
    import math

    s = 0.0
    for v in vec:
        s = s + v * v
    return math.sqrt(s)


def _dot_py(a, b) -> float:
    """Sequential left-fold dot product — the exact op order of the JVM
    `aggregate(zip_with(...))` fold in _dot_col, so bit-identical."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    return s


def _round_spark_double(x: float, scale: int = 6) -> float:
    """Python twin of Spark's round(double, scale): Spark routes doubles
    through BigDecimal.valueOf (Double.toString), setScale HALF_UP,
    toDouble (BigDecimal has no signed zero, hence the `+ 0.0`); the twin
    reads Python's repr, the shortest decimal string. Pinned bit-for-bit
    against F.round over 5k random doubles + the half-way/signed-zero
    edge cases (tests/test_r06_opt_equivalence) on the JDK 17 runtime.
    That pin depends on the JDK: before JDK 19, Double.toString is not
    always the shortest string, so for rare doubles whose longer string
    straddles a half-way point at digit scale + 1 the twin can differ
    from Spark. A non-finite x (±inf, nan) is returned unchanged, as
    Spark's round returns it."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return x
    return (
        float(
            Decimal(repr(x)).quantize(
                Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
            )
        )
        + 0.0
    )


@register(
    "ann_cosine_topk",
    f"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sc AS (SELECT vec_id,
       {_DOT_SQL.format(a='embedding', b='q.qe')}
       / ({_NORM_SQL.format(a='embedding')} * {_NORM_SQL.format(a='q.qe')}) AS cos
       FROM embeddings CROSS JOIN q WHERE vec_id <> 0)
SELECT vec_id, round(cos, 6) AS cos FROM sc
ORDER BY round(cos, 6) DESC, vec_id LIMIT 10""",
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (the exact ANN baseline): JVM-side fold
    over the embedding array — no Python, whole-stage codegen, embarrassingly
    parallel scan + TakeOrderedAndProject."""
    e = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    (q,) = _vecs_rows(spark, sf_dir, [0])
    emb = F.col("embedding")
    cos = _dot_lit(emb, q) / (_norm_col(emb) * F.lit(_norm_py(q)))
    return (
        e.select("vec_id", F.round(cos, 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "ann_lsh_bucketed",
    f"""WITH h1 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 1),
h2 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 2),
h3 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 3),
h4 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 4),
b AS (SELECT vec_id, embedding,
      (CASE WHEN {_DOT_SQL.format(a='embedding', b='h1.e')} >= 0 THEN '1' ELSE '0' END ||
       CASE WHEN {_DOT_SQL.format(a='embedding', b='h2.e')} >= 0 THEN '1' ELSE '0' END ||
       CASE WHEN {_DOT_SQL.format(a='embedding', b='h3.e')} >= 0 THEN '1' ELSE '0' END ||
       CASE WHEN {_DOT_SQL.format(a='embedding', b='h4.e')} >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings CROSS JOIN h1 CROSS JOIN h2 CROSS JOIN h3 CROSS JOIN h4),
q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
sc AS (SELECT vec_id,
       {_DOT_SQL.format(a='embedding', b='q.qe')}
       / ({_NORM_SQL.format(a='embedding')} * {_NORM_SQL.format(a='q.qe')}) AS cos
       FROM b CROSS JOIN q WHERE b.bucket = q.qb AND vec_id <> 0)
SELECT vec_id, round(cos, 6) AS cos FROM sc
ORDER BY round(cos, 6) DESC, vec_id LIMIT 5""",
)
def ann_lsh_bucketed(spark, sf_dir):
    """Random-hyperplane LSH: 4 sign bits -> bucket; brute-force cosine
    only INSIDE the query's bucket (the scale path — the bucket join
    replaces the full scan; buckets partition the corpus ~16-ways here,
    more planes at real scale). Hyperplanes are data-derived (vec 1..4)
    so the oracle can reference the identical planes."""
    e = _emb(spark, sf_dir)
    q, *planes = _vecs_rows(spark, sf_dir, [0, 1, 2, 3, 4])
    emb = F.col("embedding")
    bucket = F.concat(
        *[
            F.when(_dot_lit(emb, p) >= 0, "1").otherwise("0")
            for p in planes
        ]
    )
    # the query vector's own bucket: the identical dot products evaluated
    # on the collected q (planner-side) — replaces the extra collect job
    def _py_dot(a, bvec):
        s = 0.0
        for x, y in zip(a, bvec):
            s = s + x * y
        return s

    qb = "".join("1" if _py_dot(q, p) >= 0 else "0" for p in planes)
    cos = _dot_lit(emb, q) / (_norm_col(emb) * F.lit(_norm_py(q)))
    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", bucket.alias("bucket"), F.round(cos, 6).alias("cos"))
        .filter(F.col("bucket") == qb)
        .select("vec_id", "cos")
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(5)
    )


_IVF_C, _IVF_NPROBE = 8, 2

@register(
    "ann_ivf_topk",
    f"""WITH cents AS (SELECT vec_id AS cid, embedding AS ce
            FROM embeddings WHERE vec_id BETWEEN 1 AND {_IVF_C}),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (SELECT e.vec_id, e.embedding, c.cid,
        round({_DOT_SQL.format(a='e.embedding', b='c.ce')}
              / {_NORM_SQL.format(a='c.ce')}, 6) AS s
        FROM embeddings e CROSS JOIN cents c WHERE e.vec_id <> 0),
assign AS (SELECT vec_id, embedding, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
        FROM scored),
probes AS (SELECT c.cid FROM cents c CROSS JOIN q
        ORDER BY round({_DOT_SQL.format(a='c.ce', b='q.qe')}
                       / {_NORM_SQL.format(a='c.ce')}, 6) DESC, c.cid
        LIMIT {_IVF_NPROBE}),
sc AS (SELECT a.vec_id,
        {_DOT_SQL.format(a='a.embedding', b='q.qe')}
        / ({_NORM_SQL.format(a='a.embedding')} * {_NORM_SQL.format(a='q.qe')}) AS cos
        FROM assign a CROSS JOIN q
        WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probes))
SELECT vec_id, round(cos, 6) AS cos FROM sc
ORDER BY round(cos, 6) DESC, vec_id LIMIT 10""",
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN (the scale path beyond LSH): every vector is
    assigned to its nearest coarse centroid (argmax of round(dot/|c|, 6),
    ties to the lowest centroid id), the query probes only the nprobe
    nearest centroids' buckets, and exact cosine runs inside those
    buckets alone. Here the coarse quantizer is data-derived (vectors
    1..C serve as centroids so the DuckDB oracle can reproduce the exact
    assignment); in production the centroids come from k-means training
    and the cluster id is precomputed + partitionBy'd, so a query is a
    partition-pruned scan of ~nprobe/C of the corpus instead of a full
    scan — same plumbing as ann_lsh_bucketed, but with a trainable,
    data-adaptive quantizer. Assignment is pure whole-stage-codegen
    column math (array_max over (score, -cid) structs); no Python, no
    shuffle beyond TakeOrderedAndProject."""
    e = _emb(spark, sf_dir)
    vecs = _vecs_rows(spark, sf_dir, range(_IVF_C + 1))  # ONE collect: q + C centroids
    q, cents = vecs[0], vecs[1:]
    emb = F.col("embedding")
    # probe selection planner-side: the centroid vectors are ALREADY in
    # the driver (the _vecs_rows collect above), so scoring C of them
    # against q needs no Spark job — the old bounded probe job re-read
    # the same C rows. Same fold order (dot, norm) and the exact
    # round-HALF_UP twin give the identical rounded score, same
    # (desc s, asc cid) ordering (pinned vs the in-plan formulation by
    # tests/test_r06_opt_equivalence.py).
    probe_cids = [
        cid
        for _, cid in sorted(
            (
                (-_round_spark_double(_dot_py(cvec, q) / _norm_py(cvec)), i)
                for i, cvec in enumerate(cents, start=1)
            )
        )[:_IVF_NPROBE]
    ]
    structs = [
        F.struct(
            F.round(
                _dot_lit(emb, cvec) / F.lit(_norm_py(cvec)), 6
            ).alias("s"),
            F.lit(-i).alias("nc"),
        )
        for i, cvec in enumerate(cents, start=1)
    ]
    cluster = -F.array_max(F.array(*structs))["nc"]
    cos = _dot_lit(emb, q) / (_norm_col(emb) * F.lit(_norm_py(q)))
    return (
        e.filter(F.col("vec_id") != 0)
        .withColumn("_cl", cluster)
        .filter(F.col("_cl").isin(probe_cids))
        .select("vec_id", F.round(cos, 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "emb_near_dup",
    f"""WITH sc AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         {_DOT_SQL.format(a='x.embedding', b='y.embedding')}
         / ({_NORM_SQL.format(a='x.embedding')} * {_NORM_SQL.format(a='y.embedding')}) AS cos
  FROM embeddings x JOIN embeddings y
    ON x.label = y.label AND x.vec_id < y.vec_id)
SELECT a, b, round(cos, 6) AS cos FROM sc WHERE cos >= 0.5 ORDER BY a, b""",
)
def emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked on the label column so
    the self-join is per-block (at 100 TB the block key would be an LSH
    bucket as in ann_lsh_bucketed — never an unblocked cross join)."""
    e = _emb(spark, sf_dir)
    # row norms are computed once per ROW (before the join) instead of
    # once per PAIR — identical expression values either way
    norm = _norm_col(F.col("embedding"))
    x = e.select(
        F.col("label").alias("l"), F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"), norm.alias("na"),
    )
    y = e.select(
        F.col("label").alias("l"), F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"), norm.alias("nb"),
    )
    cos = _dot_col(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        x.join(y, "l")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= 0.5)
        .orderBy("a", "b")
    )


# ═══════════════════════════════════════════════════════ text analysis

_STOPWORDS = {
    "en": ["the", "of", "and", "a", "is", "in", "to", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "los", "las", "y", "es", "una"],
}


def _sw_count_sql(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"len(list_filter(l, t -> t IN ({inlist})))"


def _sw_count_spark(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"size(filter(toks, t -> t IN ({inlist})))"


_LANG_CASE = (
    "CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en' "
    "WHEN c_de >= c_fr AND c_de >= c_es THEN 'de' "
    "WHEN c_fr >= c_es THEN 'fr' ELSE 'es' END"
)


@register(
    "tx_langid",
    f"""WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
  FROM documents),
c AS (SELECT doc_id,
      {_sw_count_sql('en')}::BIGINT AS c_en, {_sw_count_sql('de')}::BIGINT AS c_de,
      {_sw_count_sql('fr')}::BIGINT AS c_fr, {_sw_count_sql('es')}::BIGINT AS c_es
      FROM t)
SELECT doc_id, c_en, c_de, c_fr, c_es, {_LANG_CASE} AS guess
FROM c ORDER BY doc_id LIMIT 100""",
)
def tx_langid(spark, sf_dir):
    """Language ID via stopword-hit argmax (n-gram heuristic class; the
    priority CASE gives a deterministic tie rule)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')").alias("toks"),
    )
    c = d.select(
        "doc_id",
        *[
            F.expr(_sw_count_spark(lang)).cast("long").alias(f"c_{lang}")
            for lang in ("en", "de", "fr", "es")
        ],
    )
    return (
        c.withColumn("guess", F.expr(_LANG_CASE))
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "tx_quality",
    """WITH t AS (
  SELECT doc_id, n_chars, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
  FROM documents),
m AS (SELECT doc_id,
      len(l)::BIGINT AS n_words,
      round(list_sum(list_transform(l, x -> strlen(x)::DOUBLE)) / len(l), 6) AS avg_word_len,
      round(len(list_filter(l, x -> x IN ('the','of','and','a','is','in','to','it')))::DOUBLE / len(l), 6) AS stop_ratio,
      round(strlen(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / n_chars, 6) AS alpha_ratio
      FROM t WHERE len(l) > 0)
SELECT doc_id, n_words, avg_word_len, stop_ratio, alpha_ratio,
       round(0.4 * stop_ratio + 0.3 * least(n_words / 50.0, 1.0) + 0.3 * alpha_ratio, 6) AS quality
FROM m ORDER BY quality DESC, doc_id LIMIT 20""",
)
def tx_quality(spark, sf_dir):
    """Quality scoring: length/stopword/alpha ratios (training-data
    filtering heuristic)."""
    t = _docs(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        "text",
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')").alias("toks"),
    ).filter(F.size("toks") > 0)
    m = t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.round(
            F.expr("aggregate(toks, CAST(0.0 AS DOUBLE), (acc, x) -> acc + length(x))")
            / F.size("toks"),
            6,
        ).alias("avg_word_len"),
        F.round(
            F.expr(_sw_count_spark("en")).cast("double") / F.size("toks"), 6
        ).alias("stop_ratio"),
        F.round(
            F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).cast("double")
            / F.col("n_chars"),
            6,
        ).alias("alpha_ratio"),
    )
    return (
        m.withColumn(
            "quality",
            F.round(
                0.4 * F.col("stop_ratio")
                + 0.3 * F.least(F.col("n_words") / 50.0, F.lit(1.0))
                + 0.3 * F.col("alpha_ratio"),
                6,
            ),
        )
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "tx_token_count",
    r"""SELECT doc_id,
       len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS bpe_tokens
FROM documents ORDER BY doc_id LIMIT 100""",
)
def tx_token_count(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex pieces (letters runs,
    digit runs, isolated symbols)."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(r"size(filter(split(text, '\\s+'), x -> x <> ''))")
            .cast("long")
            .alias("ws_tokens"),
            F.expr(
                r"size(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])', 0))"
            )
            .cast("long")
            .alias("bpe_tokens"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "tx_fingerprint",
    r"""SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id LIMIT 100""",
)
def tx_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (rolling-hash class; md5 keeps it oracle-portable)."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(r"md5(trim(regexp_replace(lower(text), '\\s+', ' ')))").alias("fp"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


# ═══════════════════════════════════ events / generic relational operators

@register(
    "ev_hourly_counts",
    """SELECT (floor(epoch(ts))::BIGINT // 3600) AS hour_bucket, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
)
def ev_hourly_counts(spark, sf_dir):
    """Tumbling-window counts as batch SQL (streaming analog; epoch
    bucketing keeps it timezone-proof across engines)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            (F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("hour_bucket", "event_type")
    )


@register(
    "ev_top_users",
    """SELECT user_id, count(*)::BIGINT AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT 10""",
)
def ev_top_users(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )


@register(
    "tpch_q1",
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
)
def tpch_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary (generic agg benchmark entry)."""
    li = _lineitem(spark, sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3_style",
    """SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""",
)
def tpch_q3_style(spark, sf_dir):
    """3-way join + agg + top-k; the dimension side (customer) broadcasts
    — check .explain for BroadcastHashJoin."""
    c = _read(spark, f"{sf_dir}/customer.parquet")
    o = _read(spark, f"{sf_dir}/orders.parquet")
    li = _lineitem(spark, sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ═══════════════════════════════════════════════════ multimodal plumbing

@register(
    "mm_binary_meta",
    """SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
       (64 + strlen(text) % 512)::BIGINT AS fake_w,
       (64 + (strlen(text) * 7) % 512)::BIGINT AS fake_h
FROM documents ORDER BY doc_id LIMIT 100""",
)
def mm_binary_meta(spark, sf_dir):
    """Opaque-binary metadata extraction (multimodal plumbing demo: the
    text column stands in for image bytes; real decode is a stubbed
    mapInPandas in marlin_spark.multimodal — see tests)."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.octet_length("text").cast("long").alias("n_bytes"),
            (64 + F.octet_length("text") % 512).cast("long").alias("fake_w"),
            (64 + (F.octet_length("text") * 7) % 512).cast("long").alias("fake_h"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "ft_proximity_rank",
    f"""WITH {_POS_CTES},
a AS (SELECT doc_id, idx FROM pos WHERE term = 'data'),
b AS (SELECT doc_id, idx FROM pos WHERE term = 'table')
SELECT a.doc_id AS doc_id, min(abs(a.idx - b.idx))::BIGINT AS proximity
FROM a JOIN b ON b.doc_id = a.doc_id
GROUP BY a.doc_id ORDER BY proximity, doc_id LIMIT 15""",
)
def ft_proximity_rank(spark, sf_dir):
    """Proximity rank feature from token positions: min |pos_a - pos_b|
    between 'data' and 'table' per doc, ranked nearest-first — the SQL
    twin of the rank cascade's proximity feature (reference
    docrank.c:176-225 computes the same min-span over position lists;
    comparator sort.c:46-100). Round-6 shape: both terms' 1-based
    position lists and the min-|span| fold are computed inside the row's
    token array (the reference's own per-doc shape) — no explode, no
    join, no exchange; the min over the position cross product is the
    same integer the join+groupBy produced."""

    def _positions(term):
        return F.filter(
            F.transform(
                F.expr(_TOKS),
                lambda x, i: F.when(x == term, i + F.lit(1)),
            ),
            lambda p: p.isNotNull(),
        )

    big = F.lit(2147483647)
    prox = F.aggregate(
        F.col("pa"),
        big,
        lambda acc, a: F.least(
            acc,
            F.aggregate(
                F.col("pb"),
                big,
                lambda acc2, b2: F.least(acc2, F.abs(a - b2)),
            ),
        ),
    )
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            _positions("data").alias("pa"),
            _positions("table").alias("pb"),
        )
        .filter((F.size("pa") > 0) & (F.size("pb") > 0))
        .select("doc_id", prox.cast("long").alias("proximity"))
        .orderBy("proximity", "doc_id")
        .limit(15)
    )


@register(
    "ft_sort_by",
    """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term FROM documents),
m AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'data')
SELECT d.doc_id AS doc_id, d.n_chars AS n_chars
FROM documents d JOIN m USING (doc_id)
ORDER BY n_chars DESC, doc_id LIMIT 15""",
)
def ft_sort_by(spark, sf_dir):
    """sortBy: match set ordered by a numeric attribute instead of rank
    score (reference sortBy prepends the numeric rule to the comparator
    list, index.c:1134-1148; pinned by test/robot/sort.robot:46-60).
    Engine twin: SearchEngine.search_ranked(sort_by=...)."""
    d = _docs(spark, sf_dir)
    return (
        d.filter(_contains("data"))
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "ev_sessionization",
    """WITH e AS (SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS t FROM events),
g AS (SELECT user_id, event_id, t,
        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
s AS (SELECT user_id, t,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM g)
SELECT user_id, session_id, count(*)::BIGINT AS n_events,
       min(t) AS session_start, (max(t) - min(t))::BIGINT AS duration_s
FROM s GROUP BY user_id, session_id
ORDER BY n_events DESC, user_id, session_start LIMIT 20""",
)
def ev_sessionization(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity closes a session) —
    the batch twin of a Structured Streaming session window
    (F.session_window / applyInPandasWithState at 100 TB; expressed here
    as lag+cumsum so DuckDB can oracle-check it). Top sessions by event
    count. Window ties broken by event_id for cross-engine determinism."""
    from pyspark.sql import Window as W

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("t")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    g = e.withColumn(
        "new_s",
        F.when(
            F.lag("t").over(w).isNull() | (F.col("t") - F.lag("t").over(w) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    ws = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    s = g.withColumn("session_id", F.sum("new_s").over(ws).cast("long"))
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("t").alias("session_start"),
            (F.max("t") - F.min("t")).cast("long").alias("duration_s"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"), F.asc("session_start"))
        .limit(20)
    )


# ═══════════════════════════════════════════════════ temporal joins

_ASOF_SQL = """WITH p AS (SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS t
             FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS t
      FROM events WHERE event_type = 'view'),
u AS (SELECT user_id, t, 1 AS tag, event_id AS lid, NULL::BIGINT AS rid FROM p
      UNION ALL
      SELECT user_id, t, 0 AS tag, NULL::BIGINT AS lid, event_id AS rid FROM v),
c AS (SELECT user_id, t, tag, lid,
        last_value(rid IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, tag, rid
          ROWS UNBOUNDED PRECEDING) AS view_id,
        last_value(CASE WHEN rid IS NOT NULL THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, tag, rid
          ROWS UNBOUNDED PRECEDING) AS view_t
      FROM u)
SELECT user_id, lid AS purchase_id, view_id, (t - view_t)::BIGINT AS lag_s
FROM c WHERE tag = 1 AND view_id IS NOT NULL
ORDER BY lag_s DESC, purchase_id LIMIT 20"""


@register("ev_asof_join", _ASOF_SQL)
def ev_asof_join(spark, sf_dir):
    """AS-OF join (brief's custom-operator list): each purchase matched
    to the user's latest at-or-before view, via the union-tag + window
    pattern (operators/temporal.py asof_join) — ONE shuffle on user_id,
    O(|L|+|R|) rows, no inequality-join cartesian. Top 20 stalest
    purchases (largest view->purchase lag)."""
    from marlin_spark.operators.temporal import asof_join

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    p = e.filter(F.col("event_type") == "purchase")
    v = e.filter(F.col("event_type") == "view").withColumnRenamed(
        "event_id", "view_id"
    ).withColumn("view_t", F.col("t"))
    j = asof_join(
        p, v, key="user_id", ts="t", left_id="event_id",
        right_id="view_id", right_payload=("view_t",),
    )
    return (
        j.filter(F.col("view_id").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "view_id",
            (F.col("t") - F.col("view_t")).cast("long").alias("lag_s"),
        )
        .orderBy(F.desc("lag_s"), F.asc("purchase_id"))
        .limit(20)
    )


@register("ev_asof_join_chunked", _ASOF_SQL)
def ev_asof_join_chunked(spark, sf_dir):
    """Skew-safe two-pass as-of join (round-4 verdict Missing #4): same
    query and SAME oracle as ev_asof_join, but with time_chunk set so
    the heavy window partitions on (user_id, week-of-time) — a Zipf-hot
    user's events spread across its chunks instead of forming one
    straggler task — and a tiny chunk-tail carry join restores the
    cross-chunk matches. Identical output proves the decomposition."""
    from marlin_spark.operators.temporal import asof_join

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    p = e.filter(F.col("event_type") == "purchase")
    v = e.filter(F.col("event_type") == "view").withColumnRenamed(
        "event_id", "view_id"
    ).withColumn("view_t", F.col("t"))
    j = asof_join(
        p, v, key="user_id", ts="t", left_id="event_id",
        right_id="view_id", right_payload=("view_t",),
        time_chunk=7 * 86400.0,
    )
    return (
        j.filter(F.col("view_id").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "view_id",
            (F.col("t") - F.col("view_t")).cast("long").alias("lag_s"),
        )
        .orderBy(F.desc("lag_s"), F.asc("purchase_id"))
        .limit(20)
    )


@register(
    "ev_range_join",
    """WITH c AS (SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS t
             FROM events WHERE event_type = 'click'),
er AS (SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS t
       FROM events WHERE event_type = 'error')
SELECT er.user_id,
       count(*)::BIGINT AS n_pairs,
       count(DISTINCT er.event_id)::BIGINT AS n_errors
FROM er JOIN c ON er.user_id = c.user_id
 AND c.t <= er.t AND c.t >= er.t - 21600
GROUP BY er.user_id
ORDER BY n_pairs DESC, er.user_id LIMIT 10""",
)
def ev_range_join(spark, sf_dir):
    """Bounded time-range join (errors preceded by clicks within 6 h,
    same user) through the bucketed equi-join decomposition
    (operators/temporal.py range_join_bucketed) — never an inequality
    cartesian. Top 10 users by click->error pair count."""
    from marlin_spark.operators.temporal import range_join_bucketed

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    er = e.filter(F.col("event_type") == "error").withColumnRenamed(
        "event_id", "error_id"
    )
    c = e.filter(F.col("event_type") == "click").withColumnRenamed(
        "event_id", "click_id"
    )
    pairs = range_join_bucketed(
        er, c, key="user_id", ts="t", left_id="error_id",
        right_id="click_id", window_s=21600,
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("error_id").alias("n_errors"),
        )
        .orderBy(F.desc("n_pairs"), F.asc("user_id"))
        .limit(10)
    )
