"""The one served-result memo (``catalog.memo``).

Every served frame, index and landing goes through ``catalog.memo``, keyed
by (applicationId, name, sf_dir) and guarded by a fingerprint of the
parquet files under sf_dir. These tests pin that contract:

- no module keeps its own module-level ``*_MEMO`` dict;
- entries of another application are evicted, their DataFrames
  unpersisted and their cleanup run exactly once;
- a rewritten table invalidates what was built from it, including the
  persisted frames Spark's cache would otherwise substitute into a fresh
  plan over the same path;
- evicting the serving-lake entry removes its tempdir.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil

import kafka_exercise_spark


def _walk_modules():
    for info in pkgutil.walk_packages(
        kafka_exercise_spark.__path__, prefix="kafka_exercise_spark."
    ):
        yield importlib.import_module(info.name)


def test_no_module_level_memo_dict_outside_catalog():
    modules = list(_walk_modules())
    # the walker must see the package, or an empty result proves nothing
    assert len(modules) >= 20, [m.__name__ for m in modules]
    offenders = [
        f"{mod.__name__}.{name}"
        for mod in modules
        if mod.__name__ != "kafka_exercise_spark.catalog"
        for name, val in vars(mod).items()
        if name.endswith("_MEMO") and isinstance(val, dict)
    ]
    assert offenders == [], (
        f"module-level memo dicts outside catalog.memo: {offenders}"
    )


def test_dead_application_entries_are_evicted_with_cleanup(spark, tmp_path):
    from kafka_exercise_spark import catalog

    work = tmp_path / "work"
    (work / "out").mkdir(parents=True)
    frame = spark.range(10).persist()
    frame.count()
    assert frame.is_cached
    calls = []

    def cleanup(value):
        calls.append(value)
        catalog.rm_parent_dir(value[1])

    dead_key = ("dead-application", "probe", str(tmp_path))
    catalog._MEMO[dead_key] = ((), (frame, str(work / "out")), cleanup)

    assert catalog.memo(spark, "probe", "placeholder-dead-app", lambda: 1) == 1
    assert dead_key not in catalog._MEMO
    assert len(calls) == 1  # cleanup ran exactly once
    assert not work.exists()
    assert not frame.is_cached  # DataFrames inside tuples are unpersisted
    # the live application's entry is kept and served without a rebuild
    catalog.drain_memo_build_log()
    assert catalog.memo(spark, "probe", "placeholder-dead-app", lambda: 2) == 1
    assert catalog.drain_memo_build_log() == []


def _copy_tables(src: str, dst, names) -> str:
    dst.mkdir()
    for name in names:
        shutil.copyfile(
            os.path.join(src, f"{name}.parquet"), dst / f"{name}.parquet"
        )
    return str(dst)


def test_rewritten_table_invalidates_served_results(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from kafka_exercise_spark.catalog import drain_memo_build_log
    from kafka_exercise_spark.operators.dedup import (
        _hashed_shingles_frame,
        dedup_minhash_lsh,
    )

    def pairs(d):
        rows = dedup_minhash_lsh(spark, d).select("id_a", "id_b").collect()
        return sorted(tuple(r) for r in rows)

    live = _copy_tables(sf_dir, tmp_path / "live", ["documents"])
    full = pairs(live)
    assert full
    assert _hashed_shingles_frame(spark, live).count() == 500

    # the lake changes under the live session: keep the first 125 rows
    docs = pq.read_table(os.path.join(live, "documents.parquet")).slice(0, 125)
    pq.write_table(docs, os.path.join(live, "documents.parquet"))
    # a fresh build over the same 125 rows, at a path no memo has seen
    ref = tmp_path / "ref"
    ref.mkdir()
    pq.write_table(docs, ref / "documents.parquet")
    expect = pairs(str(ref))
    assert expect != full

    assert pairs(live) == expect
    assert _hashed_shingles_frame(spark, live).count() == 125

    # no file change: both are served without a build
    drain_memo_build_log()
    assert pairs(live) == expect
    assert _hashed_shingles_frame(spark, live).count() == 125
    assert drain_memo_build_log() == []


def test_serving_lake_eviction_removes_its_tempdir(spark, sf_dir, tmp_path):
    from kafka_exercise_spark import catalog
    from kafka_exercise_spark.serving import serving_lake_rollup

    d = _copy_tables(sf_dir, tmp_path / "lake_src", ["events"])
    first = sorted(serving_lake_rollup(spark, d).collect())
    app = spark.sparkContext.applicationId
    lake, _layer = catalog._MEMO[(app, "serving_lake", d)][1]
    work = os.path.dirname(lake)
    assert os.path.isdir(work)

    # touching the source invalidates the entry: it is evicted and rebuilt
    events = os.path.join(d, "events.parquet")
    st = os.stat(events)
    os.utime(events, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert sorted(serving_lake_rollup(spark, d).collect()) == first
    assert not os.path.exists(work)
    new_lake, _layer = catalog._MEMO[(app, "serving_lake", d)][1]
    assert new_lake != lake and os.path.isdir(new_lake)
