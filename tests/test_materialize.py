"""spill_to_parquet + scratch-path lifecycle pins (round-10 verdict
item #6; round-11 verdict items #1 and #2).

The temp paths an operator creates must not accumulate for the process
lifetime: the LRU bounds keep at most _MAX_LIVE_SPILLS spill dirs and
_MAX_LIVE_SCRATCH scratch paths live, eviction deletes the OLDEST path
from disk, and the atexit sweep removes the remainder — so two
consecutive full-catalog runs leave the tempdir population flat.

Round-11 lesson (the order-dependence bug this file shipped): the LRU
bound is GLOBAL over a module-level registry shared by every test in
the process, so a per-prefix dir-count assertion is only meaningful
against an ISOLATED registry — the ``own_registry`` fixture snapshots
and drains the shared state (without touching foreign dirs on disk)
and restores it afterwards. Stale same-prefix dirs from PRIOR crashed
processes are reaped up front for the same reason.
"""

from __future__ import annotations

import glob
import os
import tempfile
from collections import OrderedDict

import pytest

from blow_spark import materialize as M


@pytest.fixture
def own_registry():
    """Isolate the module-level registries: foreign entries (other
    tests' live spill/scratch paths) are parked — NOT deleted from
    disk — so this test's per-prefix assertions see only its own
    paths; on exit, paths the test created are deleted and the
    foreign entries restored in their original LRU order."""
    saved_spills = OrderedDict(M._live_spills)
    saved_scratch = OrderedDict(M._live_scratch)
    M._live_spills.clear()
    M._live_scratch.clear()
    try:
        yield
    finally:
        while M._live_spills:
            path, _ = M._live_spills.popitem(last=False)
            M._remove_dir(path)
        while M._live_scratch:
            path, _ = M._live_scratch.popitem(last=False)
            M._remove_path(path)
        M._live_spills.update(saved_spills)
        M._live_scratch.update(saved_scratch)


def _reap_stale(prefix: str) -> None:
    """Delete leftover dirs from prior (crashed) processes so glob
    counts measure THIS process's behavior."""
    for p in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        M._remove_path(p)


def test_spill_lru_bound_and_eviction(spark, own_registry):
    base = spark.range(3).toDF("x")
    _reap_stale("blow_spark_lru_test_")
    first_paths = []
    # push well past the bound with tiny spills
    for i in range(8):
        old_bound = M._MAX_LIVE_SPILLS
        try:
            M._MAX_LIVE_SPILLS = 5
            df = M.spill_to_parquet(base, prefix="blow_spark_lru_test_")
            assert df.count() == 3
            if i == 0:
                # capture the first dir: it must be evicted later
                first_paths = list(M._live_spills)
        finally:
            M._MAX_LIVE_SPILLS = old_bound
    # bound held while the small bound was in force
    assert M.live_spill_count() == 5
    # the first spill dir was evicted AND removed from disk
    for p in first_paths:
        assert p not in M._live_spills
        assert not os.path.exists(p)
    # surviving registered dirs really exist
    for p in M._live_spills:
        assert os.path.isdir(p)


def test_spill_read_back_uses_known_schema(spark, own_registry, tmp_path):
    """The read-back takes the spilled frame's own schema: no inference
    job, and the same schema and rows as inferring from the files."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("dec", T.DecimalType(12, 3)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("d", T.DateType()),
            T.StructField("arr", T.ArrayType(T.IntegerType(), False)),
            T.StructField(
                "st",
                T.StructType(
                    [
                        T.StructField("a", T.StringType(), False),
                        T.StructField("b", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField("bin", T.BinaryType()),
        ]
    )
    rows = [
        (
            1,
            decimal.Decimal("1.250"),
            datetime.datetime(2020, 1, 1, 1, 2, 3),
            datetime.datetime(2021, 5, 5, 6, 7, 8),
            datetime.date(2020, 2, 2),
            [1, 2],
            ("x", 1.5),
            {"k": 3},
            b"\x00\x01",
        ),
        (2, None, None, None, None, None, None, None, None),
    ]
    st = spark.sparkContext.statusTracker()

    def jobs(fn):
        before = set(st.getJobIdsForGroup(None) or [])
        out = fn()
        return out, len(set(st.getJobIdsForGroup(None) or []) - before)

    spark.sql(
        "CREATE TABLE spill_schema_cv (c CHAR(5), v VARCHAR(9)) USING parquet "
        f"LOCATION '{tmp_path / 'cv'}'"
    )
    try:
        spark.sql("INSERT INTO spill_schema_cv VALUES ('ab', 'xy')")
        df = spark.createDataFrame(rows, schema).crossJoin(spark.table("spill_schema_cv"))
        meta = {f.name: f.metadata for f in df.schema.fields}
        assert "char(5)" in str(meta["c"]) and "varchar(9)" in str(meta["v"])

        _, write_jobs = jobs(lambda: df.write.parquet(str(tmp_path / "plain")))
        out, spill_jobs = jobs(lambda: M.spill_to_parquet(df, prefix="blow_spark_schema_test_"))
    finally:
        spark.sql("DROP TABLE spill_schema_cv")
    assert spill_jobs == write_jobs
    (path,) = M._live_spills
    inferred = spark.read.parquet(path)
    assert out.schema.json() == inferred.schema.json()
    got = out.collect()
    assert len(got) == 2 and sorted(got) == sorted(inferred.collect())


def test_spill_sweep_all_clears_disk(spark, own_registry):
    base = spark.range(2).toDF("x")
    M.spill_to_parquet(base, prefix="blow_spark_sweep_test_")
    paths = list(M._live_spills)
    assert paths and all(os.path.isdir(p) for p in paths)
    M._sweep_all()
    assert M.live_spill_count() == 0
    assert all(not os.path.exists(p) for p in paths)


def test_tempdir_population_flat_across_repeated_use(spark, own_registry):
    """Two identical 'runs' leave the same number of spill dirs in the
    OS tempdir (the round-10 'two consecutive full-catalog runs' pin,
    scaled down: the property is the bound, not the catalog)."""
    base = spark.range(4).toDF("x")
    tmp = tempfile.gettempdir()
    _reap_stale("blow_spark_flat_test_")

    def run(n):
        old = M._MAX_LIVE_SPILLS
        try:
            M._MAX_LIVE_SPILLS = 6
            for _ in range(n):
                M.spill_to_parquet(base, prefix="blow_spark_flat_test_")
        finally:
            M._MAX_LIVE_SPILLS = old
        return len(glob.glob(os.path.join(tmp, "blow_spark_flat_test_*")))

    after_first = run(10)
    after_second = run(10)
    assert after_first == after_second == 6
    assert M.live_spill_count() == 6


# --------------------------------------------------------------------------
# scratch-path lifecycle (round-11 verdict item #2)
# --------------------------------------------------------------------------


def test_scratch_dir_lru_bound_and_sweep(own_registry):
    _reap_stale("blow_spark_scr_test_")
    old = M._MAX_LIVE_SCRATCH
    try:
        M._MAX_LIVE_SCRATCH = 4
        paths = [M.scratch_dir(prefix="blow_spark_scr_test_") for _ in range(9)]
    finally:
        M._MAX_LIVE_SCRATCH = old
    # bound held: only the 4 newest survive, on disk and in-registry
    assert M.live_scratch_count() == 4
    assert list(M._live_scratch) == paths[-4:]
    for p in paths[:-4]:
        assert not os.path.exists(p)
    for p in paths[-4:]:
        assert os.path.isdir(p)
    # sweep removes the rest
    M._sweep_all()
    assert M.live_scratch_count() == 0
    assert all(not os.path.exists(p) for p in paths)


def test_register_scratch_handles_files_and_refreshes_lru(own_registry):
    d = M.scratch_dir(prefix="blow_spark_scrf_test_")
    fpath = os.path.join(d, "artifact.bin")
    with open(fpath, "wb") as fh:
        fh.write(b"x")
    M.register_scratch(fpath)
    # re-registering an existing path must refresh, not duplicate
    M.register_scratch(d)
    assert list(M._live_scratch) == [fpath, d]
    M._sweep_all()
    assert not os.path.exists(fpath) and not os.path.exists(d)


def test_query_scratch_dirs_are_registered(spark, sf_dir, own_registry):
    """The sink/stream mkdtemp sites route through scratch_dir: running
    a sink-roundtrip query twice leaves the SAME tempdir population
    (every dir it makes is in the registry, so the LRU/atexit lifecycle
    owns it — the round-11 'two full-suite runs stay flat' pin, scaled
    to one representative query per family)."""
    from blow_spark.queries import queries

    catalog = queries()
    for name in ("sink_partitioned_pruned_scan", "sink_sorted_clustered_scan"):
        before = M.live_scratch_count()
        catalog[name](spark, sf_dir).count()
        made_first = M.live_scratch_count() - before
        assert made_first > 0, f"{name} created no registered scratch dirs"
        catalog[name](spark, sf_dir).count()
        # second run registers the same number again (no hidden
        # unregistered dirs) and every registered path is live on disk
        assert M.live_scratch_count() - before == 2 * made_first
        assert all(os.path.exists(p) for p in M._live_scratch)


def test_cleanup_stale_siblings_keeps_only_current(own_registry):
    """Round-14 semantics: IDLE siblings (past min_age_s) go, the keep
    path stays, and FRESH siblings are spared — two sessions at
    different scale factors hold different equally-valid tokens, and
    the age guard is what keeps one from deleting the other's
    in-progress or actively-read cache (a live FileNotFoundError race
    caught this round)."""
    import time as _time

    tmp = tempfile.gettempdir()
    _reap_stale("blow_spark_sib_test_")
    stale1 = os.path.join(tmp, "blow_spark_sib_test_aaa")
    stale2 = os.path.join(tmp, "blow_spark_sib_test_bbb")
    fresh = os.path.join(tmp, "blow_spark_sib_test_ddd")
    keep = os.path.join(tmp, "blow_spark_sib_test_ccc")
    for p in (stale1, stale2, fresh, keep):
        os.makedirs(p, exist_ok=True)
    past = _time.time() - 2 * 3600
    for p in (stale1, stale2):
        os.utime(p, (past, past))
    M.cleanup_stale_siblings(keep, os.path.join(tmp, "blow_spark_sib_test_*"))
    assert os.path.isdir(keep)
    assert os.path.isdir(fresh), "age guard must spare a fresh sibling"
    assert not os.path.exists(stale1) and not os.path.exists(stale2)
    for p in (fresh, keep):
        M._remove_path(p)


def test_reap_orphan_scratch_rules(own_registry):
    """The startup janitor's three rules: dead-pid-marked dirs go,
    live-pid-marked and _SUCCESS (fixture-cache) dirs stay, unmarked
    legacy dirs go only past the age threshold."""
    import time

    tmp = tempfile.gettempdir()
    _reap_stale("blow_spark_reap_test_")
    dead = os.path.join(tmp, "blow_spark_reap_test_dead")
    live = os.path.join(tmp, "blow_spark_reap_test_live")
    cache = os.path.join(tmp, "blow_spark_reap_test_cache")
    old = os.path.join(tmp, "blow_spark_reap_test_old")
    fresh = os.path.join(tmp, "blow_spark_reap_test_fresh")
    for p in (dead, live, cache, old, fresh):
        os.makedirs(p, exist_ok=True)
    # a pid that cannot exist (> pid_max on Linux)
    with open(os.path.join(dead, M._OWNER_MARKER), "w") as fh:
        fh.write("4999999")
    with open(os.path.join(live, M._OWNER_MARKER), "w") as fh:
        fh.write(str(os.getpid()))
    with open(os.path.join(cache, "_SUCCESS"), "w"):
        pass
    past = time.time() - 9 * 3600
    os.utime(old, (past, past))
    removed = M.reap_orphan_scratch(max_age_hours=8)
    assert removed >= 2
    assert not os.path.exists(dead)
    assert not os.path.exists(old)
    assert os.path.isdir(live)
    assert os.path.isdir(cache)
    assert os.path.isdir(fresh)
    for p in (live, cache, fresh):
        M._remove_path(p)


def test_registered_paths_survive_janitor(spark, own_registry):
    """Paths registered by THIS process are never reaped, marker or
    not (the registry check precedes every rule)."""
    d = M.scratch_dir(prefix="blow_spark_reapreg_test_")
    sp = M.spill_to_parquet(spark.range(2).toDF("x"), "blow_spark_reapspill_test_")
    M.reap_orphan_scratch(max_age_hours=0)  # maximally aggressive
    assert os.path.isdir(d)
    assert sp.count() == 2  # the spill dir is still readable
