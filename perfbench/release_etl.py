"""release_etl: the reference's core job.

Setup generates a base release of the TPC-H-ish tables, a seeded release
delta (changed orders and lineitem rows) and the previous release of the
published table, computed from the base by DuckDB.  Every pass first
ingests the release's raw files (intake.py), then runs the release: the
release tables are staged from base and delta, loaded through the catalog,
pushed through a YAML pipeline materialized with skip_if_fresh, reported
against the published release and compared-then-published; the second
half of the event replay ends the pass.  In warm passes, consumers read
the published table between ops.

The first pass sees a new release: it builds the staged tables, computes
every step and publishes (writes).  Every later pass repeats the same
release, as a re-run after a failure or an unchanged upstream does: the
staged tables are reused, the catalog's schema memo hits, every step is
skipped as fresh and the publish short-circuits (reads only).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import yaml
from pyspark.sql import functions as F

from nextgenetl_spark import catalog, diff
from nextgenetl_spark.plans import publish
from nextgenetl_spark.plans.pipeline import Pipeline
from nextgenetl_spark.staging import code_token, mark_complete, staged_dir
from nextgenetl_spark.workloads import REGISTRY
from nextgenetl_spark.workloads import relational as _relational  # noqa: F401 - registers the oracles
from perfbench import gen
from perfbench.common import count, duck_hash, duck_rows, parquet_glob, stat_key, tree_bytes
from perfbench.intake import RawFileIntake

SF = 0.005
DIMS = ("region", "nation", "customer", "supplier", "part")
FACTS = ("orders", "lineitem")
FACT_KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
# op groups: each runs as one Pipeline.run call; lazy steps ride with the
# materialized step that consumes them
OPS = (
    ("clinical_wide",),
    ("supplier_names",),
    ("order_max_line",),
    ("waiting_supplier",),
    ("li_skew", "part_brand", "skew_join", "skew_brand"),
)
# step -> (registry query whose DuckDB oracle is the reference, wrapper)
ORACLES = {
    "clinical_wide": (
        "clinical_wide_join",
        "SELECT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS line_id, * FROM ({q})",
    ),
    "supplier_names": ("string_agg_ordered", "{q}"),
    "order_max_line": ("window_max", "{q}"),
    "waiting_supplier": ("waiting_supplier", "{q}"),
    "skew_brand": ("skew_auto_join", "{q}"),
}
TABLE = "clinical_wide"  # the published table
# point reads of the published table after each op of a warm pass: 24 per
# pass, enough for a p50 tail, spread through the pass rather than bunched
# at its end, so they do not all read the host's speed of one moment
LOOKUPS_PER_OP = 2
PIPELINE_YAML = os.path.join(os.path.dirname(os.path.abspath(__file__)), "release_pipeline.yaml")


def _build_release(spark, base_dir: str, delta_dir: str, out_dir: str) -> None:
    """Release tables = base rows whose key the delta does not replace, plus
    the delta rows."""
    for t in FACTS:
        base = catalog.load(spark, base_dir, t)
        delta = catalog.load(spark, delta_dir, t)
        keys = FACT_KEYS[t]
        merged = base.join(delta.select(*keys), keys, "left_anti").unionByName(delta)
        merged.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))


class ReleaseEtl:
    WARM_PASSES = 1
    def __init__(self, spark, harness, table_hash, work: str, seed: int):
        self.spark, self.h, self.table_hash = spark, harness, table_hash
        self.work, self.seed = work, seed
        with open(PIPELINE_YAML, encoding="utf-8") as fh:
            self.config = yaml.safe_load(fh)
        self.counters: dict[str, float] = {}
        self.intake = RawFileIntake(spark, harness, table_hash, seed, self.counters)

    # ---- setup ------------------------------------------------------
    def setup(self, rep: int) -> None:
        d = os.path.join(self.work, f"setup{rep}")
        self.counters.clear()  # only the last repetition's calls count
        self.intake.setup(d)
        tabs = gen.tables(self.seed, SF, DIMS + FACTS)
        self.base = os.path.join(d, "base")
        gen.write_tables(tabs, self.base, DIMS + FACTS)
        od, ld = gen.release_delta(self.seed, 1, tabs["orders"], tabs["lineitem"])
        self.delta = os.path.join(d, "delta")
        gen.write_tables({"orders": od, "lineitem": ld}, self.delta)
        self.input_rows = sum(tabs[t].num_rows for t in DIMS + FACTS)
        self.warehouse = os.path.join(d, "warehouse")
        self.pub_root = os.path.join(d, "published")
        self.refs = {False: self._reference(False, (TABLE,))}
        self._publish_previous()
        self.release_dir = None
        self.seq = 1
        self.rng = np.random.default_rng([self.seed, 7])

    def _publish_previous(self) -> None:
        """The base release as already published: a versioned copy and the
        current copy of the table, each with its metadata sidecar."""
        con = self._duck(False)
        query, wrap = ORACLES[TABLE]
        sql = wrap.format(q=REGISTRY[query].oracle)
        for d, status in ((f"{TABLE}_versioned/release0", "archived"), (f"{TABLE}_current", "current")):
            path = os.path.join(self.pub_root, d)
            os.makedirs(path)
            con.execute(f"COPY ({sql}) TO '{path}/part-00000.parquet' (FORMAT PARQUET)")
            publish.write_table_metadata(path, {"labels": {"status": status, "release": "release0"}})
        con.close()

    def stage(self) -> str:
        """Staged release tables: built once per delta content, reused by
        every later pass."""

        def build():
            out, complete = staged_dir("perfbench_release", self.delta, code=code_token(_build_release))
            count(self.counters, staging_calls=1, staging_reused=int(complete))
            if not complete:
                _build_release(self.spark, self.base, self.delta, out)
                mark_complete(out)
            return out

        return self.h.span("staging", build)

    def pass_inputs(self, index: int) -> tuple[int, int]:
        """(rows, bytes) one pass reads: the raw files, then the release's
        fact tables and dims."""
        rows, size = self.intake.pass_inputs()
        tables = [os.path.join(self.base, f"{t}.parquet") for t in DIMS]
        tables += [os.path.join(self.release_dir, f"{t}.parquet") for t in FACTS]
        return rows + self.input_rows, size + sum(tree_bytes(p) for p in tables)

    def output_roots(self) -> list[str]:
        return [self.intake.out, self.warehouse, self.pub_root]

    # ---- references: DuckDB over the base tables and the delta -----
    def _duck(self, with_delta: bool):
        con = duckdb.connect()
        for t in DIMS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.base}/{t}.parquet'")
        for t in FACTS:
            b, d = f"'{self.base}/{t}.parquet'", f"'{self.delta}/{t}.parquet'"
            keys = ", ".join(FACT_KEYS[t])
            body = f"SELECT * FROM {b}"
            if with_delta:
                body += f" WHERE ({keys}) NOT IN (SELECT ({keys}) FROM {d}) UNION ALL SELECT * FROM {d}"
            con.execute(f"CREATE VIEW {t} AS {body}")
        return con

    def _reference(self, with_delta: bool, steps=tuple(ORACLES)) -> dict:
        con = self._duck(with_delta)
        ref = {}
        for step in steps:
            query, wrap = ORACLES[step]
            cols, rows = duck_rows(con, wrap.format(q=REGISTRY[query].oracle))
            ref[step] = (self.table_hash(rows, cols), len(rows))
            if step == TABLE:
                ref["cols"], ref["rows"] = cols, {r[0]: r for r in rows}
        con.close()
        return ref

    # ---- one pass ---------------------------------------------------
    def run_pass(self, index: int) -> None:
        if True not in self.refs:
            self.refs[True] = self.h.off_clock(lambda: self._reference(True))
        # the cold pass publishes a new release halfway through, so only
        # warm passes serve lookups
        self.h.after_op = (lambda: self.serve(self.refs[True])) if index else None
        try:
            self.intake.run_pass()
            self.release(self.refs[True])
            self.intake.replay_rest()
        finally:
            self.h.after_op = None

    def release(self, ref: dict) -> None:
        spark, h = self.spark, self.h
        rel = self.release_dir = self.stage()
        pipe = Pipeline(spark, params={"data_version": os.path.basename(rel)}, warehouse=self.warehouse)
        for t in DIMS:
            pipe.register(t, h.span("catalog", lambda t=t: catalog.load(spark, self.base, t)))
        for t in FACTS:
            pipe.register(t, h.span("catalog", lambda t=t: catalog.load(spark, rel, t)))
        for group in OPS:
            dest = group[-1]
            marker = os.path.join(self.warehouse, dest, "_SUCCESS")
            before = stat_key(marker)
            h.call(
                "plans.pipeline",
                lambda g=group: pipe.run(self.config, steps=list(g)),
                check=lambda _o, d=dest: self._hash(os.path.join(self.warehouse, d)) == ref[d],
                what=f"pipeline {dest}",
            )
            # an unchanged _SUCCESS marker means the step was skipped as fresh
            count(self.counters, steps=1, steps_fresh=int(before is not None and stat_key(marker) == before))

        new = pipe.tables[TABLE]
        cur_dir = os.path.join(self.pub_root, f"{TABLE}_current")
        prev = self.refs[False]  # what is published now
        h.call(
            "diff",
            lambda: diff.release_report(spark.read.parquet(cur_dir), new, "line_id"),
            check=lambda rep: rep == self._expected_report(prev, ref),
            what="diff release_report",
        )
        res = h.call(
            "plans.publish",
            lambda: publish.publish_table(spark, new, self.pub_root, TABLE, f"release{self.seq}"),
            check=lambda r: r["published"] == (prev[TABLE] != ref[TABLE]) and self._hash(cur_dir) == ref[TABLE],
            what="publish",
        )
        if res is not None:
            count(self.counters, publish_calls=1, publish_skipped=int(not res["published"]))
            if res["published"]:
                self.seq += 1
                self.refs[False] = ref

    def serve(self, ref: dict) -> None:
        """Consumers' point reads of the published table, issued after each
        op of a warm pass.  They are sampled as queries but kept off the
        pass wall."""
        cur_dir = os.path.join(self.pub_root, f"{TABLE}_current")
        for _ in range(LOOKUPS_PER_OP):
            self.lookup(cur_dir, ref)

    def lookup(self, cur_dir: str, ref: dict) -> None:
        """One point read of the published table, as its consumers issue."""
        keys = list(ref["rows"])
        cols = ref["cols"]
        key = keys[int(self.rng.integers(0, len(keys)))]

        def read():
            df = self.h.span("catalog", lambda: catalog.read_parquet_cached(self.spark, cur_dir))
            return df.filter(F.col("line_id") == key).collect()

        self.h.call(
            "request",
            read,
            check=lambda rows: len(rows) == 1
            and self.table_hash([tuple(rows[0][c] for c in cols)], cols) == self.table_hash([ref["rows"][key]], cols),
            kind="query",
            what="lookup",
        )

    def _hash(self, path: str) -> tuple[str, int]:
        con = duckdb.connect()
        try:
            return duck_hash(con, f"SELECT * FROM {parquet_glob(path)}", self.table_hash)
        finally:
            con.close()

    @staticmethod
    def _expected_report(old: dict, new: dict) -> dict:
        ok, nk = set(old["rows"]), set(new["rows"])
        return {
            "added_fields": [],
            "removed_fields": [],
            "dtype_changes": {},
            "added_key_count": len(nk - ok),
            "removed_key_count": len(ok - nk),
            "row_counts": {"old": len(ok), "new": len(nk), "equal": len(ok) == len(nk)},
        }
