"""Pipeline harness + diff/publish machinery tests (F8-style versioned
pair: rows added/removed/changed, re-ordered concat column, NaN in both)."""

from __future__ import annotations

import contextlib
import math
import uuid

from pyspark.sql import functions as F

from nextgenetl_spark import diff as D
from nextgenetl_spark.plans import Pipeline, load_config, publish_table


def _versioned_pair(spark):
    old = spark.createDataFrame(
        [("k1", "a;b", 1.0), ("k2", "x", float("nan")), ("k3", "c", 3.0), ("k4", "d", 4.0)],
        ["pk", "packed", "val"],
    )
    new = spark.createDataFrame(
        [("k1", "b;a", 1.0),            # concat re-ordered → set-equal
         ("k2", "x", float("nan")),     # NaN in both → equal (nan-tolerant)
         ("k3", "c", 99.0),             # value changed
         ("k5", "e", 5.0)],             # k4 removed, k5 added
        ["pk", "packed", "val"],
    )
    return old, new


def test_key_diff_and_counts(spark):
    old, new = _versioned_pair(spark)
    kd = D.key_diff(old, new, "pk")
    assert {r["pk"] for r in kd["removed_keys"].collect()} == {"k4"}
    assert {r["pk"] for r in kd["added_keys"].collect()} == {"k5"}
    rc = D.row_count_compare(old, new)
    assert rc == {"old": 4, "new": 4, "equal": True}


def test_column_diff_and_concat_set_compare(spark):
    old, new = _versioned_pair(spark)
    cd = D.column_diff(old, new, "pk", "val")
    changed = {(r["pk"], r["diff_side"]) for r in cd.collect() if r["pk"] in ("k3",)}
    assert ("k3", "old") in changed and ("k3", "new") in changed
    # concat column: k1 re-ordered must count as EQUAL; k4/k5 differ (one side null)
    bad = {r["pk"] for r in D.concat_column_equal(old, new, "pk", "packed").collect()}
    assert "k1" not in bad
    assert bad == {"k4", "k5"}


def test_tables_equal_nan_tolerant(spark):
    old, _ = _versioned_pair(spark)
    clone = old.select("pk", "packed", "val")
    assert D.tables_equal(old, clone) is True  # NaN==NaN under tolerance
    # Spark set-ops natively normalize NaN (divergence from BigQuery, where
    # the reference needed a special tolerant variant) — strict mode is
    # equally tolerant of NaN==NaN here:
    assert D.tables_equal(old, clone, nan_tolerant=False) is True
    _, new = _versioned_pair(spark)
    assert D.tables_equal(old, new) is False


def test_release_report_and_duplicates(spark):
    old, new = _versioned_pair(spark)
    new2 = new.withColumn("extra", F.lit(1)).drop("packed")
    rep = D.release_report(old, new2, "pk")
    assert rep["added_fields"] == ["extra"] and rep["removed_fields"] == ["packed"]
    assert rep["added_key_count"] == 1 and rep["removed_key_count"] == 1

    dup = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    assert [(r["k"], r["cnt"]) for r in D.duplicate_keys(dup, ["k"]).collect()] == [("a", 2)]


def test_pipeline_yaml_run(spark, tmp_path):
    cfg_path = tmp_path / "pipe.yaml"
    cfg_path.write_text(
        """
params:
  min_size: 10
steps:
  - name: filtered
    dest: filtered_parts
    sql: "SELECT p_partkey, p_brand, p_size FROM part_src WHERE p_size >= {min_size}"
    materialize: true
  - name: brand_counts
    dest: brand_counts
    sql: "SELECT p_brand, COUNT(*) AS n FROM filtered_parts GROUP BY p_brand"
"""
    )
    cfg = load_config(str(cfg_path))
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [(1, "B1", 5), (2, "B1", 15), (3, "B2", 20)], ["p_partkey", "p_brand", "p_size"]
    )
    pipe.register("part_src", src)
    out = pipe.run(cfg)
    assert (tmp_path / "wh" / "filtered_parts").exists()  # materialized step
    counts = {r["p_brand"]: r["n"] for r in out["brand_counts"].collect()}
    assert counts == {"B1": 1, "B2": 1}
    # resume: run only the second step against the materialized first
    pipe2 = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe2.register("filtered_parts", spark.read.parquet(str(tmp_path / "wh" / "filtered_parts")))
    out2 = pipe2.run(cfg, steps=["brand_counts"])
    assert {r["p_brand"]: r["n"] for r in out2["brand_counts"].collect()} == counts


def test_pipeline_salted_join_step(spark, tmp_path):
    """Round-5 verdict ask #8: the §4.4 skew finding (explicit salting wins
    under pathological hot keys) must be usable from the YAML harness. A
    salted_join step joins a skewed fact against a dim through the salt
    rewrite end-to-end, and its output must equal the plain join's."""
    cfg_path = tmp_path / "skew.yaml"
    cfg_path.write_text(
        """
steps:
  - name: enriched
    dest: enriched
    salted_join:
      big: facts
      small: dims
      key: k
      num_salts: 8
    materialize: true
    force_skew_join: true
  - name: totals
    dest: totals
    sql: "SELECT label, COUNT(*) AS n, SUM(v) AS sv FROM enriched GROUP BY label"
"""
    )
    # hot key: 900 of 1000 fact rows share k=0
    facts = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("v"),
    )
    dims = spark.createDataFrame([(i, f"L{i}") for i in range(10)], ["k", "label"])
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe.register("facts", facts)
    pipe.register("dims", dims)
    out = pipe.run(load_config(str(cfg_path)))

    got = {(r["label"], r["n"], r["sv"]) for r in out["totals"].collect()}
    plain = facts.join(dims, "k").groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    want = {(r["label"], r["n"], r["sv"]) for r in plain.collect()}
    assert got == want
    # no salt plumbing leaks into the step output schema
    assert "__salt" not in out["enriched"].columns
    # conf restored after the step's action
    assert spark.conf.get("spark.sql.adaptive.forceOptimizeSkewedJoin") == "false"


def test_pipeline_salted_join_auto_step(spark, tmp_path):
    """The auto variant (round-11): `salted_join: {auto: true, ...}` makes
    the salt decision from CMS sketches inside the step — hot fixture
    salts, uniform fixture doesn't — and records the decision on
    pipe.skew_decisions; output equals the plain join either way."""
    facts_hot = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("v"),
    )
    facts_uni = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    dims = spark.createDataFrame([(i, f"L{i}") for i in range(100)], ["k", "label"])
    for facts, want_salt in ((facts_hot, True), (facts_uni, False)):
        pipe = Pipeline(spark, warehouse=str(tmp_path / f"wh{want_salt}"))
        pipe.register("facts", facts)
        pipe.register("dims", dims)
        out = pipe.run_step(
            {"name": "e", "dest": "e",
             "salted_join": {"big": "facts", "small": "dims", "key": "k",
                             "auto": True, "num_salts": 8}}
        )
        assert pipe.skew_decisions["e"]["salt"] is want_salt
        got = sorted(map(tuple, out.collect()))
        want = sorted(map(tuple, facts.join(dims, "k").collect()))
        assert got == want
        assert "__salt" not in out.columns


def test_pipeline_force_skew_join_requires_materialize(spark, tmp_path):
    import pytest as _pytest

    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe.register("a", spark.range(5).withColumnRenamed("id", "k"))
    pipe.register("b", spark.range(5).withColumnRenamed("id", "k"))
    step = {"name": "x", "dest": "x", "salted_join": {"big": "a", "small": "b", "key": "k"},
            "force_skew_join": True}
    with _pytest.raises(ValueError, match="requires materialize"):
        pipe.run_step(step)


def test_publish_versioning(spark, tmp_path):
    root = str(tmp_path / "pub")
    df1 = spark.createDataFrame([("k1", 1.0)], ["pk", "v"])
    r1 = publish_table(spark, df1, root, "clinical", "r1")
    assert r1["published"] is True and r1["previous_release"] is None

    # identical data → skip republish
    r2 = publish_table(spark, df1.select("pk", "v"), root, "clinical", "r2")
    assert r2["published"] is False and r2["previous_release"] == "r1"

    df2 = spark.createDataFrame([("k1", 2.0)], ["pk", "v"])
    r3 = publish_table(spark, df2, root, "clinical", "r10")
    assert r3["published"] is True and r3["previous_release"] == "r1"

    # numeric release ordering: r10 > r2 > r1
    from nextgenetl_spark.plans.publish import find_most_recent_release

    assert find_most_recent_release(root, "clinical") == "r10"
    cur = spark.read.parquet(f"{root}/clinical_current")
    assert cur.collect()[0]["v"] == 2.0


def test_pipeline_cluster_by_and_export_csv(spark, tmp_path):
    import glob

    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    pipe.register("src", spark.createDataFrame([(2, "b"), (1, "a"), (3, "c")], ["k", "v"]))
    cfg = {
        "params": {},
        "steps": [
            {
                "name": "clustered",
                "dest": "out",
                "sql": "SELECT k, v FROM src",
                "cluster_by": ["k"],
                "materialize": True,
                "export_csv": "out_tsv",
                "sep": "\t",
            }
        ],
    }
    out = pipe.run(cfg)["out"]
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 3]
    files = glob.glob(str(tmp_path / "wh" / "out_tsv" / "*.csv"))
    assert files, "export_csv wrote no files"
    lines = sorted(line for f in files for line in open(f).read().splitlines() if line)
    assert lines[0] == "1\ta" and "k\tv" in lines  # data + header present


def test_bucketed_join_eliminates_shuffle(spark):
    from nextgenetl_spark.catalog import load
    from nextgenetl_spark.plans.bucketing import bucketed_join, plan_has_no_exchange, write_bucketed
    from tests.conftest import SF_SMOKE

    li = load(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    try:
        write_bucketed(li, "b_lineitem", "l_orderkey", num_buckets=4, sort_cols="l_orderkey")
        write_bucketed(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "b_orders", "l_orderkey",
            num_buckets=4, sort_cols="l_orderkey",
        )
        joined = bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")
        assert plan_has_no_exchange(joined), joined._jdf.queryExecution().executedPlan().toString()
        # and the join is still correct
        assert joined.count() == li.join(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_pipeline_zorder_step(spark, tmp_path):
    """zorder_by step: output rows are identical, layout is z-clustered
    (spans bounded in both keys for typical files)."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.pipeline import Pipeline

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    pipe.register("grid", df)
    out = pipe.run(
        {
            "steps": [
                {
                    "name": "z",
                    "dest": "zgrid",
                    "sql": "SELECT x, y FROM grid",
                    "zorder_by": ["x", "y"],
                    "num_files": 16,
                    "materialize": True,
                }
            ]
        }
    )["zgrid"]
    assert out.count() == 4096
    assert sorted(r["x"] for r in out.groupBy("x").count().collect()) == list(range(64))


def test_pipeline_sql_templating_tolerates_literal_braces(spark):
    """Step SQL containing regex quantifiers / JSON braces must pass through
    render_sql untouched while known {param} placeholders still substitute
    (str.format would KeyError on the quantifier)."""
    from nextgenetl_spark.plans.pipeline import Pipeline, render_sql

    assert render_sql("a{2,3} {p} {unknown} {\"k\": 1}", {"p": "X"}) == 'a{2,3} X {unknown} {"k": 1}'

    pipe = Pipeline(spark, params={"min_reps": 2})
    src = spark.createDataFrame(
        [(1, "xx banana"), (2, "x apple"), (3, "xxx cherry")], ["id", "s"]
    )
    pipe.register("regex_src", src)
    out = pipe.run_step(
        {
            "name": "braced",
            "dest": "braced",
            "sql": "SELECT id FROM regex_src WHERE s RLIKE 'x{2,3}' AND id >= {min_reps}",
        }
    )
    assert sorted(r["id"] for r in out.collect()) == [3]


def test_publish_metadata_and_archive_flip(spark, tmp_path):
    """Publishing release N writes the metadata sidecar (status=current) to
    both versioned and _current dirs; publishing N+1 flips N's sidecar to
    status=archived; a skipped identical publish changes nothing."""
    from nextgenetl_spark.plans.publish import (
        publish_table,
        read_table_metadata,
        update_table_labels,
    )

    root = str(tmp_path / "wh")
    meta = {
        "friendlyName": "Parts (open)",
        "description": "part dimension",
        "labels": {"program": "tpch"},
        "schema_descriptions": {"p_partkey": "part key"},
    }
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], ["p_partkey", "p_name"])
    out = publish_table(spark, v1, root, "part", "r1", metadata=meta)
    assert out["published"]
    m1 = read_table_metadata(f"{root}/part_versioned/r1")
    assert m1["labels"] == {"program": "tpch", "status": "current", "release": "r1"}
    assert m1["friendlyName"] == "Parts (open)"
    assert read_table_metadata(f"{root}/part_current")["labels"]["release"] == "r1"
    # the sidecar must not break plain parquet reads
    assert spark.read.parquet(f"{root}/part_current").count() == 2

    # identical data -> skip, nothing flips
    out2 = publish_table(spark, v1, root, "part", "r2", metadata=meta)
    assert not out2["published"]
    assert read_table_metadata(f"{root}/part_versioned/r1")["labels"]["status"] == "current"

    # changed data -> r2 publishes, r1 archives
    v2 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["p_partkey", "p_name"])
    out3 = publish_table(spark, v2, root, "part", "r2", metadata=meta)
    assert out3["published"] and out3["previous_release"] == "r1"
    assert read_table_metadata(f"{root}/part_versioned/r1")["labels"]["status"] == "archived"
    assert read_table_metadata(f"{root}/part_versioned/r2")["labels"]["status"] == "current"

    # label surgery mirrors update_table_labels
    labels = update_table_labels(
        f"{root}/part_versioned/r2", remove=["program"], add={"reviewed": "yes"}
    )
    assert labels == {"status": "current", "release": "r2", "reviewed": "yes"}


def test_persisted_views_roundtrip(spark, tmp_path):
    """create_view_from_query persists the definition and instantiates it;
    load_views re-creates it in a 'new session' (simulated by dropping the
    temp view); a name colliding with a table dir is fatal."""
    import pytest

    from nextgenetl_spark.catalog import create_view_from_query, drop_view, load_views

    root = str(tmp_path / "wh")
    src = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"])
    src.createOrReplaceTempView("vt_src")
    create_view_from_query(spark, root, "vt_top", "SELECT k, v FROM vt_src WHERE v > 15")
    assert {r["k"] for r in spark.sql("SELECT * FROM vt_top").collect()} == {2, 3}

    # "new session": catalog entry gone, definition file remains
    spark.catalog.dropTempView("vt_top")
    assert load_views(spark, root) == ["vt_top"]
    assert {r["k"] for r in spark.sql("SELECT * FROM vt_top").collect()} == {2, 3}

    # table-name collision is fatal, like the reference's type check
    (tmp_path / "wh" / "vt_tbl").mkdir(parents=True)
    with pytest.raises(ValueError, match="already exists as a table"):
        create_view_from_query(spark, root, "vt_tbl", "SELECT 1")

    assert drop_view(spark, root, "vt_top")
    assert load_views(spark, root) == []


def test_prune_releases_removes_only_old_archived(spark, tmp_path):
    """Pruning keeps the newest `keep` releases plus anything not labeled
    archived, and removes older archived dirs."""
    from nextgenetl_spark.plans.publish import (
        find_most_recent_release,
        prune_releases,
        publish_table,
        read_table_metadata,
    )

    root = str(tmp_path / "wh")
    for i in range(1, 5):
        df = spark.createDataFrame([(k, f"v{i}") for k in range(i)], ["k", "v"])
        assert publish_table(spark, df, root, "t", f"r{i}")["published"]
    # r1..r3 archived, r4 current
    for i in range(1, 4):
        assert read_table_metadata(f"{root}/t_versioned/r{i}")["labels"]["status"] == "archived"

    removed = prune_releases(root, "t", keep=2)
    assert removed == ["r1", "r2"]  # r3 survives (within keep=2? no — r3,r4 kept)
    import os

    assert sorted(os.listdir(f"{root}/t_versioned")) == ["r3", "r4"]
    assert find_most_recent_release(root, "t") == "r4"

    # keep=1 would target r3 (archived) but never r4 (current)
    assert prune_releases(root, "t", keep=1) == ["r3"]
    assert sorted(os.listdir(f"{root}/t_versioned")) == ["r4"]
    assert prune_releases(root, "t", keep=1) == []


def test_compact_parquet_dir_reduces_files_preserving_rows(spark, tmp_path):
    """Compaction: 40 tiny files -> few ~target-size files, rows intact."""
    from nextgenetl_spark.plans.compaction import compact_parquet_dir

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    spark.range(0, 4000).withColumnRenamed("id", "k").repartition(40).write.parquet(src)
    stats = compact_parquet_dir(spark, src, dst, target_file_bytes=64 * 1024)
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40
    assert spark.read.parquet(dst).count() == 4000
    # deterministic content: same key set
    got = {r["k"] for r in spark.read.parquet(dst).collect()}
    assert got == set(range(4000))


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.compaction import compact_parquet_dir

    src = str(tmp_path / "part_small")
    dst = str(tmp_path / "part_compacted")
    (
        spark.range(0, 3000)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("p"))
        .repartition(30)
        .write.partitionBy("p")
        .parquet(src)
    )
    stats = compact_parquet_dir(spark, src, dst, target_file_bytes=256 * 1024, partition_by=["p"])
    assert stats["files_after"] < stats["files_before"]
    out = spark.read.parquet(dst)
    assert out.count() == 3000
    # hive layout preserved: partition dirs exist and pruning filter works
    import os

    assert any(d.startswith("p=") for d in os.listdir(dst))
    assert out.filter(F.col("p") == 1).count() == 1000


def test_skip_if_fresh_reuses_then_invalidates(spark, tmp_path):
    """skip_if_fresh: an unchanged step definition reuses the materialized
    output (no recompute); changing the SQL or a param invalidates the
    fingerprint and recomputes."""
    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.pipeline import Pipeline

    wh = str(tmp_path / "wh")
    src = spark.range(0, 10).select(F.col("id").alias("k"))
    step = {
        "name": "s1",
        "dest": "out1",
        "sql": "SELECT k, k * {mult} AS v FROM src",
        "materialize": True,
        "skip_if_fresh": True,
    }

    p = Pipeline(spark, params={"mult": 2}, warehouse=wh)
    p.register("src", src)
    p.run_step(step)
    import os

    out_dir = os.path.join(wh, "out1")
    mtime1 = os.path.getmtime(os.path.join(out_dir, "_SUCCESS"))

    # identical rerun in a fresh Pipeline → skipped (no rewrite)
    p2 = Pipeline(spark, params={"mult": 2}, warehouse=wh)
    p2.register("src", src)
    df = p2.run_step(step)
    assert os.path.getmtime(os.path.join(out_dir, "_SUCCESS")) == mtime1
    assert {(r["k"], r["v"]) for r in df.collect()} == {(i, 2 * i) for i in range(10)}

    # changed param → fingerprint differs → recompute with new values
    p3 = Pipeline(spark, params={"mult": 3}, warehouse=wh)
    p3.register("src", src)
    df3 = p3.run_step(step)
    assert {(r["k"], r["v"]) for r in df3.collect()} == {(i, 3 * i) for i in range(10)}
    assert os.path.getmtime(os.path.join(out_dir, "_SUCCESS")) != mtime1


def test_export_jsonl_round_trips(spark, tmp_path):
    """export_jsonl writes newline-delimited JSON that read_jsonl loads back
    with identical rows — the reference's BQ-load staging format."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from nextgenetl_spark.plans.pipeline import Pipeline

    wh = str(tmp_path / "wh")
    src = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    p = Pipeline(spark, warehouse=wh)
    p.register("src", src)
    p.run_step({"name": "x", "dest": "out", "sql": "SELECT k, v FROM src", "export_jsonl": "out_jsonl"})
    out_dir = os.path.join(wh, "out_jsonl")
    rows = []
    for fn in os.listdir(out_dir):
        if fn.endswith(".json"):
            with open(os.path.join(out_dir, fn), encoding="utf-8") as fh:
                rows.extend(_json.loads(line) for line in fh if line.strip())
    assert {(r["k"], r["v"]) for r in rows} == {(i, 2 * i) for i in range(20)}


def test_quickstart_example_runs_end_to_end(spark, tmp_path):
    """examples/quickstart.py exercises ingest → pipeline → publish → diff →
    curation in one pass; keep it green so the documented entry path works."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "quickstart", os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "quickstart.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from tests.conftest import SF_SMOKE

    out = mod.main(spark, SF_SMOKE, str(tmp_path))
    assert out["ingest_rows"] == 50
    assert out["pipeline_rows"] > 0
    assert out["published_rows"] == out["pipeline_rows"]
    assert out["diff_rows"] > 0  # the perturbation is visible to the QC diff
    assert set(out["split_counts"]) <= {"train", "val", "test"}
    assert sum(out["split_counts"].values()) > 0


def test_lake_report_flags_small_files_and_compaction_clears_it(spark, tmp_path):
    import sys

    sys.path.insert(0, str(tmp_path.parents[0]))  # no-op safety
    from nextgenetl_spark.plans.compaction import compact_parquet_dir
    from tools.lake_report import lake_report

    root = tmp_path / "lake"
    root.mkdir()
    spark.range(0, 4000).repartition(40).write.parquet(str(root / "shattered"))
    spark.range(0, 100).coalesce(1).write.parquet(str(root / "fine"))
    rows = {r["table"]: r for r in lake_report(str(root), target_file_bytes=64 * 1024)}
    assert rows["shattered"]["compactable"]
    assert rows["shattered"]["n_files"] == 40
    assert not rows["fine"]["compactable"]

    compact_parquet_dir(spark, str(root / "shattered"), str(root / "shattered_c"), target_file_bytes=64 * 1024)
    after = {r["table"]: r for r in lake_report(str(root), target_file_bytes=64 * 1024)}
    assert after["shattered_c"]["n_files"] < 40


# ---------------------------------------------------------------------------
# Deferred lazy steps: a re-run over a fresh tail builds nothing it discards
# ---------------------------------------------------------------------------

_CHAIN = {
    "steps": [
        {"name": "rows", "dest": "rows", "sql": "SELECT k, v FROM facts"},
        {"name": "joined", "dest": "joined",
         "salted_join": {"big": "rows", "small": "dims", "key": "k", "auto": True, "num_salts": 4}},
        {"name": "per_label", "dest": "per_label", "materialize": True, "skip_if_fresh": True,
         "sql": "/* release {rel} */ SELECT label, COUNT(*) AS n, SUM(v) AS sv FROM joined GROUP BY label"},
    ]
}


def _chain_pipe(spark, wh, rel):
    """[lazy rows → lazy auto-salted join → materialized skip_if_fresh
    consumer] over a hot-key fixture (900 of 1000 rows share k=0)."""
    facts = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("v"),
    )
    dims = spark.createDataFrame([(i, f"L{i}") for i in range(10)], ["k", "label"])
    pipe = Pipeline(spark, params={"rel": rel}, warehouse=wh)
    pipe.register("facts", facts)
    pipe.register("dims", dims)
    return pipe, facts.join(dims, "k")


@contextlib.contextmanager
def _jobs_in(spark):
    """Collects the ids of the Spark jobs the block launches."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    ids: list = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _outcomes(pipe):
    return [(r["name"], r["outcome"]) for r in pipe.step_log]


def test_fresh_rerun_defers_lazy_chain(spark, tmp_path):
    wh = str(tmp_path / "wh")
    first, _ = _chain_pipe(spark, wh, "r1")
    first.run(_CHAIN)
    assert _outcomes(first) == [("rows", "computed"), ("joined", "computed"), ("per_label", "computed")]
    assert first.step_log[1]["skew_decision"]["salt"] is True
    assert all(r["wall_s"] >= 0 for r in first.step_log)
    _chain_pipe(spark, wh, "r1")[0].run(_CHAIN)  # the first read-back fills the schema memo

    pipe, _ = _chain_pipe(spark, wh, "r1")
    with _jobs_in(spark) as jobs:
        out = pipe.run(_CHAIN)
    assert jobs == []  # no CMS sketch, no schema inference
    assert pipe.skew_decisions == {}
    assert _outcomes(pipe) == [("rows", "deferred"), ("joined", "deferred"), ("per_label", "fresh")]
    assert not any("skew_decision" in r for r in pipe.step_log)
    assert set(out) == {"per_label"} and "joined" not in pipe.tables


def test_stale_consumer_builds_lazy_chain_with_identical_rows(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _chain_pipe(spark, wh, "r1")[0].run(_CHAIN)
    before = sorted(map(tuple, spark.read.parquet(f"{wh}/per_label").collect()))

    pipe, plain = _chain_pipe(spark, wh, "r2")  # new release: the consumer is stale
    with _jobs_in(spark) as jobs:
        pipe.run(_CHAIN)
    assert jobs
    assert _outcomes(pipe) == [("rows", "computed"), ("joined", "computed"), ("per_label", "computed")]
    assert pipe.skew_decisions["joined"]["salt"] is True
    after = sorted(map(tuple, spark.read.parquet(f"{wh}/per_label").collect()))
    want = plain.groupBy("label").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    assert after == before == sorted(map(tuple, want.collect()))


def test_deferred_step_is_built_on_demand(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _chain_pipe(spark, wh, "r1")[0].run(_CHAIN)

    pipe, plain = _chain_pipe(spark, wh, "r1")
    pipe.run(_CHAIN)
    joined = pipe.table("joined")
    assert _outcomes(pipe)[3:] == [("rows", "computed"), ("joined", "computed")]
    assert pipe.step_log[-1]["skew_decision"]["salt"] is True
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))

    # a later step that is built first builds every deferred step it may read
    pipe, _ = _chain_pipe(spark, wh, "r1")
    pipe.run(_CHAIN)
    n = pipe.run_step({"name": "n", "dest": "n", "sql": "SELECT COUNT(*) AS n FROM joined"})
    assert n.first()["n"] == 1000
    assert _outcomes(pipe)[3:] == [("rows", "computed"), ("joined", "computed"), ("n", "computed")]


def test_lazy_steps_after_the_last_materialized_step_are_built(spark, tmp_path):
    """A lazy step with no materialized step after it is an output of the
    run: it is built and returned even when the step before it is fresh.
    The rule reads no SQL, so every lazy step before a built one is built."""
    wh = str(tmp_path / "wh")
    cfg = {
        "steps": [
            {"name": "a", "dest": "a", "sql": "SELECT id AS k FROM range(10)"},
            {"name": "b", "dest": "b", "materialize": True, "skip_if_fresh": True,
             "sql": "SELECT k, k * 2 AS v FROM a"},
            {"name": "c", "dest": "c", "sql": "SELECT SUM(v) AS s FROM b"},
        ]
    }
    Pipeline(spark, warehouse=wh).run(cfg)
    pipe = Pipeline(spark, warehouse=wh)
    out = pipe.run(cfg)
    assert _outcomes(pipe) == [("a", "computed"), ("b", "fresh"), ("c", "computed")]
    assert set(out) == {"a", "b", "c"} and out["c"].first()["s"] == 90


# ---------------------------------------------------------------------------
# The one-shuffle compares against the formulas they replace
# ---------------------------------------------------------------------------

def _two_except_diff(a, b):
    """The symmetric diff as two EXCEPT DISTINCTs (the formula before the
    one-shuffle rewrite)."""
    return (
        a.distinct().subtract(b.distinct()).withColumn("diff_side", F.lit("old"))
        .unionByName(b.distinct().subtract(a.distinct()).withColumn("diff_side", F.lit("new")))
    )


def _two_except_tables_equal(old, new, nan_tolerant):
    if sorted(old.columns) != sorted(new.columns):
        return False
    o = D._nan_safe(old) if nan_tolerant else old
    n = new.select(*old.columns)
    n = D._nan_safe(n) if nan_tolerant else n
    return _two_except_diff(o, n).count() == 0


def _canon(rows):
    """Rows as sortable tuples that tell NaN, -0.0 and 0.0 apart."""
    def v(x):
        return "nan" if isinstance(x, float) and math.isnan(x) else repr(x)

    return sorted(tuple(v(x) for x in r) for r in rows)


def test_symmetric_diff_and_tables_equal_match_two_except_formula(spark):
    import random

    from pyspark.sql import types as T

    from nextgenetl_spark.operators.setops import symmetric_diff

    schema_a = T.StructType([T.StructField("i", T.IntegerType()), T.StructField("d", T.DoubleType()),
                             T.StructField("s", T.StringType())])
    schema_b = T.StructType([T.StructField("i", T.LongType()), T.StructField("d", T.DoubleType()),
                             T.StructField("s", T.StringType())])
    values = ([None, 0, 1, 2], [None, 0.0, -0.0, 1.5, float("nan")], [None, "a", "b"])
    verdicts = set()
    for seed in range(10):
        rng = random.Random(seed)

        def row():
            return tuple(rng.choice(vs) for vs in values)

        rows_a = [row() for _ in range(rng.choice([0, 1, 6, 14]))]
        if seed % 3 == 0:
            # same rows, reordered and duplicated, with 0.0/-0.0 swapped
            rows_b = [(i, -d if d == 0 else d, s) for i, d, s in rows_a * 2]
            rng.shuffle(rows_b)
        else:
            rows_b = [rng.choice(rows_a) for _ in range(len(rows_a) // 2)] if rows_a else []
            rows_b += [row() for _ in range(rng.choice([0, 3, 8]))]
        a = spark.createDataFrame(rows_a, schema_a)
        b = spark.createDataFrame(rows_b, schema_b)

        got, want = symmetric_diff(a, b), _two_except_diff(a, b)
        assert got.dtypes == want.dtypes, seed
        assert _canon(got.collect()) == _canon(want.collect()), seed

        b_reordered = b.select("s", "d", "i")  # tables_equal selects by name
        for tolerant in (True, False):
            verdict = D.tables_equal(a, b_reordered, nan_tolerant=tolerant)
            assert verdict == _two_except_tables_equal(a, b_reordered, tolerant), (seed, tolerant)
            verdicts.add(verdict)
    assert verdicts == {True, False}


def test_release_report_counts_null_and_duplicate_keys(spark):
    from pyspark.sql import types as T

    old_schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.IntegerType())])
    new_schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType()),
                               T.StructField("w", T.DoubleType())])
    old = spark.createDataFrame([(1, 1), (1, 2), (2, 3), (None, 4), (None, 5), (3, 6)], old_schema)
    new = spark.createDataFrame([(2, "x", 0.5), (2, "y", 0.5), (None, "z", 0.5), (4, "w", 0.5)], new_schema)
    empty_old = spark.createDataFrame([], old_schema)
    fields = {"added_fields": ["w"], "removed_fields": [], "dtype_changes": {"v": ("int", "string")}}

    # old keys {1, 2, 3, NULL}, new keys {2, 4, NULL}: only 2 matches — a
    # NULL key never equals another, so it is removed AND added
    assert D.release_report(old, new, "k") == {
        **fields, "added_key_count": 2, "removed_key_count": 3,
        "row_counts": {"old": 6, "new": 4, "equal": False},
    }
    assert D.release_report(empty_old, new, "k") == {
        **fields, "added_key_count": 3, "removed_key_count": 0,
        "row_counts": {"old": 0, "new": 4, "equal": False},
    }
    assert D.release_report(empty_old, empty_old, "k") == {
        "added_fields": [], "removed_fields": [], "dtype_changes": {},
        "added_key_count": 0, "removed_key_count": 0,
        "row_counts": {"old": 0, "new": 0, "equal": True},
    }
