import pytest


@pytest.fixture(scope="session")
def spark():
    from marlin_spark.session import get_spark

    s = get_spark("marlin-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_rows():
    from marlin_spark.oracle.corpus import tiny_corpus

    return tiny_corpus()


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_rows):
    return spark.createDataFrame(tiny_rows)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_rows):
    from marlin_spark.oracle.bm25 import OracleIndex, assign_docids

    return OracleIndex(assign_docids(tiny_rows))


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_df, tmp_path_factory):
    """Built index over the tiny corpus with small blocks/ranges so that
    multi-block, multi-range and bucket-pruning paths are all exercised."""
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder

    d = str(tmp_path_factory.mktemp("tiny_index"))
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8)
    builder = IndexBuilder(spark, d, cfg)
    counters = builder.build(tiny_df, build_id="t0")
    return d, cfg, counters


@pytest.fixture(scope="session")
def last_job_id(spark):
    """Callable: the highest Spark job id so far (ids are sequential)."""

    def job_id() -> int:
        sc = spark.sparkContext
        # the status tracker is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(), default=-1)

    return job_id


@pytest.fixture
def nrt_placement(monkeypatch):
    """Callable: force where IncrementalIndexer indexes a micro-batch,
    'driver' or 'spark', by patching its size gates. 'spark' keeps the
    row gate, so the batch still takes the bounded collect that every
    batch over a gate pays."""
    from marlin_spark.streaming import incremental

    def force(placement: str) -> None:
        if placement == "driver":
            monkeypatch.setattr(incremental, "DRIVER_BATCH_MAX", 10**9)
            monkeypatch.setattr(incremental, "DRIVER_BATCH_BYTES", 10**15)
        else:
            assert placement == "spark", placement
            monkeypatch.setattr(incremental, "DRIVER_BATCH_BYTES", -1)

    return force


@pytest.fixture
def compact_placement(monkeypatch):
    """Callable: force where IncrementalIndexer.compact stages its
    tables, 'driver' or 'spark', by patching its size gate."""
    from marlin_spark.streaming import incremental

    def force(placement: str) -> None:
        assert placement in ("driver", "spark"), placement
        monkeypatch.setattr(
            incremental, "COMPACT_DRIVER_BYTES", 10**15 if placement == "driver" else -1
        )

    return force
