"""Raw-file intake of the release_etl workload: the Python-side
data-preparation engine over raw files.

Setup renders seeded raw files from generated TPC-H-ish rows: a TSV with
null markers and mixed-type columns, nested GDC-style case JSONL and VCF
text, plus event parquet files.
For every file it also writes the table the reader must produce (the
"truth"), from the same rows.  Each pass ingests every file (sample-based
type inference, schema persisted next to the output, reader, parquet
write; the JSONL is flattened into one table per nesting level).  The
event files land in two halves, one at the start of the pass and one at
its end, and each half is replayed by an availableNow stream into a lake
that keeps its checkpoint between them, so the second replay picks up only
the new files.  Each output is compared with its truth table read by
DuckDB.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from nextgenetl_spark import inference, schemas
from nextgenetl_spark.flatten import FlattenConfig, flatten
from nextgenetl_spark.sources.jsonl import read_jsonl
from nextgenetl_spark.sources.tsv import read_tsv
from nextgenetl_spark.sources.vcf import read_vcf
from nextgenetl_spark.staging import mark_complete, staged_dir
from nextgenetl_spark.streaming.sink import run_stream_to_lake
from perfbench import gen
from perfbench.common import count, duck_hash, parquet_glob, tree_bytes

SF = 0.004
SOURCES = ("orders", "customer", "lineitem", "events")  # generated tables the raw files are rendered from
N_CASES = 600
N_EVENT_FILES = 8
EVENTS_PER_TRIGGER = 1
TSV_NULLS = ["NA", "null", "", "--", "not reported"]
CASES = FlattenConfig(
    base="cases",
    id_keys={"cases": "case_id", "cases.diagnoses": "diagnosis_id", "cases.diagnoses.treatments": "treatment_id"},
)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# ---- raw files and their truth tables --------------------------------
def _tsv(rng, orders: pa.Table, raw: str, truth: str) -> None:
    n = orders.num_rows
    cust = orders["o_custkey"].to_numpy()
    cust_null = rng.random(n) < 0.03
    price = orders["o_totalprice"].to_numpy()
    dates = orders["o_orderdate"].cast(pa.date32())
    rush = rng.integers(0, 4, n)
    rush_txt = np.asarray(["yes", "No", "TRUE", "false"], dtype=object)[rush]
    note_words = np.asarray(["late", "gift", "fragile", "bulk"], dtype=object)
    note_num = rng.random(n) < 0.5
    note = np.where(note_num, rng.integers(1, 100, n).astype(str), note_words[rng.integers(0, 4, n)])
    markers = np.asarray(TSV_NULLS, dtype=object)[rng.integers(0, len(TSV_NULLS), n)]
    keys = orders["o_orderkey"].to_numpy()
    status = orders["o_orderstatus"].to_pylist()
    prio = orders["o_orderpriority"].to_pylist()
    date_txt = [d.isoformat() for d in dates.to_pylist()]
    with open(raw, "w", encoding="utf-8") as fh:
        fh.write("order_key\tcust_key\tstatus\ttotal_price\torder_date\tpriority\tis_rush\tnote\n")
        for i in range(n):
            c = markers[i] if cust_null[i] else str(cust[i])
            fh.write(
                f"{keys[i]}\t{c}\t{status[i]}\t{price[i]!r}\t{date_txt[i]}\t{prio[i]}\t{rush_txt[i]}\t{note[i]}\n"
            )
    pq.write_table(
        pa.table(
            {
                "order_key": keys,
                "cust_key": pa.array(np.where(cust_null, 0, cust), mask=cust_null),
                "status": status,
                "total_price": price,
                "order_date": dates,
                "priority": prio,
                "is_rush": pa.array(rush % 2 == 0),
                "note": pa.array(note.tolist(), pa.string()),
            }
        ),
        truth,
    )


def _cases(rng, customer: pa.Table, raw: str, truth_dir: str) -> None:
    """Nested case records: a project and a demographic struct, 0-3
    diagnoses, each with 0-3 treatments."""
    keys = customer["c_custkey"].to_numpy()[:N_CASES]
    segs = customer["c_mktsegment"].to_pylist()[:N_CASES]
    base, diags, treats = [], [], []
    with open(raw, "w", encoding="utf-8") as fh:
        for i, k in enumerate(keys.tolist()):
            case_id = f"case-{k:07d}"
            age = None if rng.random() < 0.1 else int(rng.integers(20, 90))
            rec = {
                "case_id": case_id,
                "submitter_id": f"TCGA-{k % 97:02d}-{k:04d}",
                "project": {"project_id": f"TCGA-{segs[i][:4]}", "program": "TCGA"},
                "demographic": {"gender": "female" if k % 2 else "male", "age_at_index": age},
                "diagnoses": [],
            }
            n_diag = int(rng.integers(0, 4))
            for d in range(n_diag):
                diag = {
                    "diagnosis_id": f"diag-{k:07d}-{d}",
                    "primary_diagnosis": ["adenocarcinoma", "carcinoma", "glioma"][int(rng.integers(0, 3))],
                    "age_at_diagnosis": int(rng.integers(20, 90)),
                    "treatments": [],
                }
                for t in range(int(rng.integers(0, 4))):
                    tr = {
                        "treatment_id": f"tr-{k:07d}-{d}-{t}",
                        "treatment_type": ["chemo", "radiation", "surgery"][int(rng.integers(0, 3))],
                        "days_to_treatment": int(rng.integers(1, 900)),
                    }
                    diag["treatments"].append(tr)
                    treats.append({"case_id": case_id, "diagnoses__diagnosis_id": diag["diagnosis_id"],
                                   **{f"diagnoses__treatments__{c}": v for c, v in tr.items()}})
                rec["diagnoses"].append(diag)
                diags.append({"case_id": case_id, "diagnoses__treatments__count": len(diag["treatments"]),
                              **{f"diagnoses__{c}": v for c, v in diag.items() if c != "treatments"}})
            fh.write(json.dumps(rec) + "\n")
            base.append({"case_id": rec["case_id"], "submitter_id": rec["submitter_id"],
                         **{f"project__{c}": v for c, v in rec["project"].items()},
                         **{f"demographic__{c}": v for c, v in rec["demographic"].items()},
                         "diagnoses__count": n_diag})
    os.makedirs(truth_dir, exist_ok=True)
    for name, rows in (("cases", base), ("cases_diagnoses", diags), ("cases_diagnoses_treatments", treats)):
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(truth_dir, f"{name}.parquet"))


def _vcf(lineitem: pa.Table, raw: str, truth: str) -> None:
    n = lineitem.num_rows
    pk = lineitem["l_partkey"].to_numpy()
    ok = lineitem["l_orderkey"].to_numpy()
    ln = lineitem["l_linenumber"].to_numpy()
    qty = lineitem["l_quantity"].to_numpy().astype(int)
    disc = lineitem["l_discount"].to_numpy()
    flag = lineitem["l_returnflag"].to_pylist()
    lstat = lineitem["l_linestatus"].to_pylist()
    price = lineitem["l_extendedprice"].to_numpy()
    bases = "ACGT"
    rows = {c: [] for c in ("CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "info_DP", "info_AF",
                            "sample_name", "GT", "AD")}
    with open(raw, "w", encoding="utf-8") as fh:
        fh.write("##fileformat=VCFv4.2\n")
        fh.write('##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n')
        fh.write('##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">\n')
        fh.write('##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">\n')
        fh.write('##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">\n')
        fh.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n")
        for i in range(n):
            chrom = f"chr{pk[i] % 22 + 1}"
            pos = int(ok[i]) * 10 + int(ln[i])
            vid = None if ln[i] == 1 else f"rs{pk[i]}"
            ref, alt = bases[pk[i] % 4], bases[(pk[i] + 1 + ln[i] % 3) % 4]
            qual = None if flag[i] == "R" else round(float(price[i]) / 1000.0, 1)
            filt = "PASS" if lstat[i] == "F" else "LowQual"
            info = f"DP={qty[i]};AF={disc[i]:.2f}"
            samples = [("S1", "0/1", f"{qty[i]},{i % 7}"), ("S2", "1/1", f"{i % 5},{qty[i]}")]
            fh.write(
                f"{chrom}\t{pos}\t{vid or '.'}\t{ref}\t{alt}\t{'.' if qual is None else qual}\t{filt}\t{info}\tGT:AD\t"
                + "\t".join(f"{gt}:{ad}" for _, gt, ad in samples) + "\n"
            )
            for name, gt, ad in samples:
                for c, v in zip(rows, (chrom, pos, vid, ref, alt, qual, filt, info, str(qty[i]), f"{disc[i]:.2f}",
                                       name, gt, ad)):
                    rows[c].append(v)
    pq.write_table(pa.table(rows), truth)


def render(seed: int, src_dir: str, out: str) -> None:
    """Every raw file and truth table under ``out``, from the generated
    tables in ``src_dir``."""
    rng = np.random.default_rng([seed, 11])
    t = {n: pq.read_table(os.path.join(src_dir, f"{n}.parquet")) for n in SOURCES}
    truth = os.path.join(out, "truth")
    os.makedirs(truth, exist_ok=True)
    _tsv(rng, t["orders"], os.path.join(out, "orders.tsv"), os.path.join(truth, "tsv.parquet"))
    _cases(rng, t["customer"], os.path.join(out, "cases.jsonl"), os.path.join(truth, "cases"))
    _vcf(t["lineitem"].slice(0, 3000), os.path.join(out, "calls.vcf"), os.path.join(truth, "vcf.parquet"))
    landing = os.path.join(out, "landing")
    os.makedirs(landing, exist_ok=True)
    ev = t["events"]
    per = -(-ev.num_rows // N_EVENT_FILES)
    for f in range(N_EVENT_FILES):
        pq.write_table(ev.slice(f * per, per), os.path.join(landing, f"events-{f:03d}.parquet"))
    pq.write_table(ev, os.path.join(truth, "events.parquet"))


class _BatchTimes(StreamingQueryListener):
    """Trigger-execution time of every micro-batch that read rows.  Progress
    events arrive asynchronously, so ``take`` waits for the expected
    number."""

    def __init__(self):
        self._s: list[float] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows:
            with self._cv:
                self._s.append(p.durationMs["triggerExecution"] / 1000.0)
                self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self, n: int = 0, timeout: float = 10.0) -> list[float]:
        with self._cv:
            self._cv.wait_for(lambda: len(self._s) >= n, timeout)
            out, self._s = self._s, []
        return out


class RawFileIntake:
    def __init__(self, spark, harness, table_hash, seed: int, counters: dict):
        self.spark, self.h, self.table_hash = spark, harness, table_hash
        self.seed, self.counters = seed, counters
        self.refs: dict[str, tuple] = {}
        self.batch_times = _BatchTimes()
        spark.streams.addListener(self.batch_times)

    def setup(self, d: str) -> None:
        self.src = os.path.join(d, "generated")
        gen.write_tables(gen.tables(self.seed, SF, SOURCES), self.src, SOURCES)
        self.out = os.path.join(d, "lake")
        os.makedirs(self.out, exist_ok=True)
        self.landing = os.path.join(d, "events_landing")  # outside the outputs: landing is not a write
        self.refs = {}
        self._inputs = None
        self.stage()

    def stage(self) -> str:
        """Raw files for the generated tables: rendered once per content of
        the generated directory, reused by every later pass."""

        def resolve():
            raw, complete = staged_dir("perfbench_raw", self.src)
            count(self.counters, staging_calls=1, staging_reused=int(complete))
            if not complete:
                render(self.seed, self.src, raw)
                mark_complete(raw)
            return raw

        self.raw = self.h.span("staging", resolve)
        return self.raw

    def pass_inputs(self) -> tuple[int, int]:
        """(rows, bytes) of the raw files one pass ingests."""
        if self._inputs is None:
            truth = os.path.join(self.raw, "truth")
            rows = sum(pq.read_metadata(os.path.join(truth, f)).num_rows
                       for f in ("tsv.parquet", "vcf.parquet", "events.parquet", "cases/cases.parquet"))
            raw_bytes = sum(tree_bytes(os.path.join(self.raw, p)) for p in os.listdir(self.raw) if p != "truth")
            self._inputs = rows, raw_bytes
        return self._inputs

    # ---- checks --------------------------------------------------------
    def _ref(self, name: str, where: str = "") -> tuple:
        if (name, where) not in self.refs:
            con = duckdb.connect()
            self.refs[name, where] = duck_hash(
                con, f"SELECT * FROM '{os.path.join(self.raw, 'truth', name)}.parquet' {where}", self.table_hash
            )
            con.close()
        return self.refs[name, where]

    def _same(self, out_dir: str, truth: str, where: str = "") -> bool:
        con = duckdb.connect()
        try:
            got = duck_hash(con, f"SELECT * FROM {parquet_glob(out_dir)}", self.table_hash)
        finally:
            con.close()
        return got == self._ref(truth, where)

    # ---- one pass ------------------------------------------------------
    def run_pass(self) -> None:
        """The first half of the event replay, then every file ingest; the
        caller ends the pass with ``replay_rest``."""
        spark, h = self.spark, self.h
        raw = self.stage()
        out = self.out

        def reset():
            for d in (self.landing, *self._stream_dirs()):
                shutil.rmtree(d, ignore_errors=True)
            os.makedirs(self.landing)

        h.off_clock(reset)
        self._replay(raw, 0, N_EVENT_FILES // 2)

        def ingest(name, read, truth):
            target = os.path.join(out, name)

            def run():
                read().write.mode("overwrite").parquet(target)
                return h.tracer.enabled

            def check(traced):
                if traced:
                    count(self.counters, source_rows_traced=self._ref(truth)[1])
                return self._same(target, truth)

            h.call("sources", run, check=check, what=f"ingest {name}")

        def tsv():
            path = os.path.join(raw, "orders.tsv")
            schema_path = os.path.join(out, "orders_schema.json")

            def infer():
                with open(path, encoding="utf-8") as fh:
                    headers = fh.readline().rstrip("\n").split("\t")
                    rows = [fh.readline().rstrip("\n").split("\t") for _ in range(5000)]
                return inference.infer_tsv_types([r for r in rows if len(r) == len(headers)], headers)

            types = h.span("inference", infer)
            h.span("schemas", lambda: schemas.save_schema(schema_path, types))
            return read_tsv(spark, path, schema_path=schema_path)

        ingest("tsv", tsv, "tsv")
        ingest("vcf", lambda: read_vcf(spark, os.path.join(raw, "calls.vcf")), "vcf")
        self._cases(raw)

    def replay_rest(self) -> None:
        """The second half of the event replay: files that landed while the
        pass ran."""
        self._replay(self.raw, N_EVENT_FILES // 2, N_EVENT_FILES)

    def _cases(self, raw: str) -> None:
        spark, h = self.spark, self.h
        path = os.path.join(raw, "cases.jsonl")
        schema_path = os.path.join(self.out, "cases_schema.json")
        target = os.path.join(self.out, "cases")

        def run():
            def infer():
                with open(path, encoding="utf-8") as fh:
                    recs = [json.loads(fh.readline()) for _ in range(500)]
                return inference.infer_schema(recs)

            schema = h.span("inference", infer)
            h.span("schemas", lambda: schemas.save_schema(schema_path, schema))
            df = read_jsonl(spark, path, schema_path=schema_path)

            def flat():
                tables = flatten(df, CASES)
                for name, t in tables.items():
                    t.write.mode("overwrite").parquet(os.path.join(target, name))
                return sorted(tables)

            return h.span("flatten", flat), h.tracer.enabled

        def check(res):
            names, traced = res
            if traced:
                count(self.counters, source_rows_traced=N_CASES)
            return names == ["cases", "cases_diagnoses", "cases_diagnoses_treatments"] and all(
                self._same(os.path.join(target, n), f"cases/{n}") for n in names
            )

        h.call("sources", run, check=check, what="ingest cases.jsonl")

    def _stream_dirs(self) -> tuple[str, str]:
        return os.path.join(self.out, "events_lake"), os.path.join(self.out, "events_ckpt")

    def _replay(self, raw: str, first: int, end: int) -> None:
        """Land event files ``first``..``end``-1 and replay what is new
        into the lake: one micro-batch per file."""
        spark, h = self.spark, self.h
        lake, ckpt = self._stream_dirs()

        def land():
            for n in sorted(os.listdir(os.path.join(raw, "landing")))[first:end]:
                os.link(os.path.join(raw, "landing", n), os.path.join(self.landing, n))

        h.off_clock(land)

        def replay():
            sdf = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", EVENTS_PER_TRIGGER).parquet(self.landing)
            run_stream_to_lake(sdf, lake, ckpt)
            return sorted(d for d in os.listdir(lake) if d.startswith("_batch_id="))

        def check(batches):
            # landing file f holds event ids [f * per, (f + 1) * per)
            per = -(-pq.read_metadata(os.path.join(raw, "truth", "events.parquet")).num_rows // N_EVENT_FILES)
            new = len(batches) - first // EVENTS_PER_TRIGGER
            count(self.counters, stream_batches=new, stream_runs=1)
            return new == (end - first) // EVENTS_PER_TRIGGER and self._same(lake, "events", f"WHERE event_id < {end * per}")

        self.batch_times.take()
        res = h.call("streaming", replay, check=check, what=f"stream events {first}-{end - 1}")
        if res and h.current is not None:
            # an append batch here is one micro-batch of the replay
            n_new = len(res) - first // EVENTS_PER_TRIGGER
            h.current.appends.extend(h.off_clock(lambda: self.batch_times.take(n_new)))
