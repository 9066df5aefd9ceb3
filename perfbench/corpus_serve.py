"""corpus_serve: LLM-corpus dedup and retrieval on documents and embeddings.

Each pass runs the near-duplicate stage (MinHash-LSH pairs first, connected
components over them last), and between them stages the IVF-PQ index
(built once per embeddings content, copied for the pass), appends a batch
of new vectors to it and serves one top-k request from one client: a
hybrid request whose dense leg (IVF-PQ) is fused with a BM25 lexical leg by
reciprocal rank.  A run makes two warm passes, so its samples come from
two passes rather than one.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from nextgenetl_spark import catalog
from nextgenetl_spark.operators import similarity
from nextgenetl_spark.operators.dedup import connected_components, md5_minhash_near_dup_pairs, md5_minhash_oracle_sql
from nextgenetl_spark.operators.textstats import bm25_multi_scores, rrf_fuse, tokens
from nextgenetl_spark.staging import code_token, mark_complete, staged_dir
from perfbench import gen
from perfbench.common import count, duck_rows, tree_bytes

SF = 0.02  # 1,000 documents and 400 embeddings
N_BASE = 320  # vectors in the staged index; the rest arrive as appends
APPEND_ROWS = 40  # one batch per pass, before the requests
K = 10
FUSED_K = 5
THRESHOLD = 0.5
VEC_SCHEMA = "query_id long, embedding array<float>"


class CorpusServe:
    WARM_PASSES = 2  # a pass gives one request and one append; two passes give two of each
    def __init__(self, spark, harness, table_hash, work: str, seed: int):
        self.spark, self.h, self.table_hash = spark, harness, table_hash
        self.work, self.seed = work, seed
        self.counters: dict[str, float] = {}
        if harness.tracer.reader is not None:
            _trace_index_reads(harness)

    def setup(self, rep: int) -> None:
        self.counters = {}  # only the last repetition's calls count
        d = os.path.join(self.work, f"setup{rep}")
        self.data = os.path.join(d, "data")
        tabs = gen.tables(self.seed, SF, ("documents", "embeddings"))
        gen.write_tables(tabs, self.data)
        emb = tabs["embeddings"]
        self.ids = emb["vec_id"].to_numpy()
        self.vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.serving_root = os.path.join(d, "serving")
        self.refs: dict = {}
        self.input_rows = tabs["documents"].num_rows + tabs["embeddings"].num_rows

    def output_roots(self) -> list[str]:
        return [self.serving_root]

    def pass_inputs(self, index: int) -> tuple[int, int]:
        return self.input_rows, sum(tree_bytes(os.path.join(self.data, f"{t}.parquet")) for t in ("documents", "embeddings"))

    # ---- references -----------------------------------------------------
    def _duck(self):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.data}/documents.parquet'")
        return con

    def _pairs_ref(self) -> dict:
        if "pairs" not in self.refs:
            con = self._duck()
            sql = md5_minhash_oracle_sql(THRESHOLD)
            cols, rows = duck_rows(con, sql)
            cand = con.execute(sql.rsplit("SELECT a_id, b_id, jac FROM v", 1)[0] + "SELECT COUNT(*) FROM cand").fetchone()[0]
            con.close()
            self.refs["pairs"] = {"hash": self.table_hash(rows, cols), "rows": rows, "candidates": cand}
        return self.refs["pairs"]

    def _components_ref(self) -> str:
        if "cc" not in self.refs:
            parent: dict[int, int] = {}

            def find(x):
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b, _ in self._pairs_ref()["rows"]:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            self.refs["cc"] = self.table_hash([(n, find(n)) for n in list(parent)], ["node", "label"])
        return self.refs["cc"]

    def _lexical_ref(self, qid: int) -> list[tuple[int, int]]:
        """(doc_id, rank) of the BM25 top-k for document ``qid``'s terms,
        self excluded; each term contribution quantized to 1e-6 as the
        package does."""
        con = self._duck()
        rows = con.execute(
            f"""
            WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n FROM dl),
            qterms AS (SELECT DISTINCT term FROM toks WHERE doc_id = {qid}),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term IN (SELECT term FROM qterms)
                   GROUP BY doc_id, term),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            parts AS (
                SELECT tf.doc_id,
                       CAST(ROUND((ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1) * tf.tf * (1.2 + 1)
                             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) * 1000000) AS BIGINT) AS p
                FROM tf JOIN dfreq d USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
                WHERE tf.doc_id <> {qid}),
            sc AS (SELECT doc_id, SUM(p) AS sp FROM parts GROUP BY doc_id)
            SELECT doc_id, CAST(row_number() OVER (ORDER BY sp DESC, doc_id) AS INT) AS rank
            FROM sc QUALIFY rank <= {K}
            """
        ).fetchall()
        con.close()
        return rows

    # ---- checks -----------------------------------------------------------
    def _check_dense(self, qid: int, qvec: np.ndarray, rows, live: np.ndarray) -> bool:
        """Well-formed top-k whose similarities are the exact cosines; adds
        recall against brute force over the live corpus."""
        got = [(r["neighbor_id"], r["sim"], r["rank"]) for r in rows if r["query_id"] == qid]
        ids = [g[0] for g in got]
        if sorted(g[2] for g in got) != list(range(1, K + 1)) or len(set(ids)) != K:
            return False
        pos = {int(v): i for i, v in enumerate(self.ids)}
        if any(i not in pos or not live[pos[i]] or i == qid for i in ids):
            return False
        sims = self.vecs @ qvec / (np.linalg.norm(self.vecs, axis=1) * np.linalg.norm(qvec))
        if any(abs(s - sims[pos[i]]) > 1.5e-4 for i, s, _ in got):
            return False
        cand = np.where(live & (self.ids != qid))[0]
        best = {int(self.ids[j]) for j in cand[np.argsort(-sims[cand], kind="stable")[:K]]}
        count(self.counters, recall_sum=len(best & set(ids)) / K, recall_n=1)
        return True

    def _check_fused(self, qid: int, dense_rows, fused) -> bool:
        terms: dict[int, list] = {}
        for r in dense_rows:
            terms.setdefault(r["neighbor_id"], []).append(r["rank"])
        for doc, rank in self._lexical_ref(qid):
            terms.setdefault(doc, []).append(rank)
        scored = [(doc, round(sum(1.0 / (60 + r) for r in rs), 6), len(rs)) for doc, rs in terms.items()]
        scored.sort(key=lambda t: (-t[1], t[0]))
        want = [(qid, d, s, n, i + 1) for i, (d, s, n) in enumerate(scored[:FUSED_K])]
        cols = ["query_id", "doc_id", "rrf", "n_lists", "rank"]
        return self.table_hash([tuple(r[c] for c in cols) for r in fused], cols) == self.table_hash(want, cols)

    def _check_index(self, serving: str, live: np.ndarray) -> bool:
        con = duckdb.connect()
        got = con.execute(
            f"SELECT vec_id FROM read_parquet('{serving}/vectors/**/*.parquet', hive_partitioning = true)"
        ).fetchall()
        con.close()
        return sorted(r[0] for r in got) == sorted(int(i) for i in self.ids[live])

    # ---- one pass -----------------------------------------------------------
    def stage_index(self, emb, index: int) -> str:
        """The IVF-PQ index of the first N_BASE vectors, built once per
        embeddings content; each pass serves, and appends to, a copy."""

        def resolve():
            built, complete = staged_dir(
                "perfbench_ivfpq", os.path.join(self.data, "embeddings.parquet"), code=code_token(similarity.build_ivfpq_index)
            )
            count(self.counters, staging_calls=1, staging_reused=int(complete))
            if not complete:
                similarity.build_ivfpq_index(
                    emb.filter(F.col("vec_id") < N_BASE), built, k_centroids=16, refine_iters=0, m=8, ks=16
                )
                mark_complete(built)
            serving = os.path.join(self.serving_root, f"pass{index}")
            shutil.copytree(built, serving, ignore=shutil.ignore_patterns("_COMPLETE*"))
            return serving

        return self.h.span("staging", resolve)

    def run_pass(self, index: int) -> None:
        spark, h = self.spark, self.h
        h.off_clock(lambda: shutil.rmtree(self.serving_root, ignore_errors=True))
        docs = h.span("catalog", lambda: catalog.load(spark, self.data, "documents"))
        emb = h.span("catalog", lambda: catalog.load(spark, self.data, "embeddings"))

        pairs_ref = h.off_clock(self._pairs_ref)

        def pairs_ok(df):
            rows = [tuple(r) for r in df.collect()]
            count(self.counters, dedup_pairs=len(rows), dedup_candidates=pairs_ref["candidates"])
            return self.table_hash(rows, df.columns) == pairs_ref["hash"]

        pairs = h.call(
            "operators.dedup",
            lambda: md5_minhash_near_dup_pairs(docs, threshold=THRESHOLD).localCheckpoint(),
            check=pairs_ok,
            what="near-dup pairs",
        )

        # the two dedup stages open and close the pass, with the append and
        # the request between them, so that the op samples are spread over
        # the pass rather than taken in one stretch of it
        serving = self.stage_index(emb, index)
        live = self.ids < N_BASE + APPEND_ROWS
        batch = emb.filter((F.col("vec_id") >= N_BASE) & (F.col("vec_id") < N_BASE + APPEND_ROWS))
        h.call(
            "operators.similarity",
            lambda: similarity.append_to_ivfpq_index(spark, serving, batch, batch_id=0),
            check=lambda res: res["appended"] and self._check_index(serving, live),
            kind="append",
            what="index append",
        )
        rng = np.random.default_rng([self.seed, 100 + index])
        self._hybrid(serving, docs, int(rng.integers(0, N_BASE)), live)

        h.call(
            "operators.dedup",
            lambda: connected_components(pairs.select("a_id", "b_id")).collect(),
            check=lambda rows: self.table_hash([tuple(r) for r in rows], ["node", "label"]) == self._components_ref(),
            what="connected components",
        )

    def _dense_leg(self, serving: str, qid: int, qvec: np.ndarray):
        q = self.spark.createDataFrame([(qid, qvec.tolist())], VEC_SCHEMA)
        return self.h.span(
            "operators.similarity", lambda: similarity.ivfpq_query_index(self.spark, serving, q, k=K).collect()
        )

    def _hybrid(self, serving: str, docs, qid: int, live: np.ndarray) -> None:
        """Dense leg for vector ``qid`` and BM25 leg for document ``qid``,
        fused by reciprocal rank."""
        spark, h = self.spark, self.h
        qvec = self.vecs[int(np.where(self.ids == qid)[0][0])].astype(np.float32)

        def request():
            dense = self._dense_leg(serving, qid, qvec)
            dense_df = spark.createDataFrame(
                [(r["query_id"], r["neighbor_id"], r["rank"]) for r in dense], "query_id long, doc_id long, rank int"
            )

            def lexical():
                qterms = (
                    docs.filter(F.col("doc_id") == qid)
                    .select(F.lit(qid).cast("long").alias("query_id"), F.explode(tokens("text")).alias("term"))
                    .distinct()
                )
                scores = bm25_multi_scores(docs, qterms, part_dp=6).filter(F.col("query_id") != F.col("doc_id"))
                w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
                lex = scores.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= K)
                return rrf_fuse([dense_df, lex.select("query_id", "doc_id", "rank")], k=FUSED_K).collect()

            return dense, h.span("operators.textstats", lexical)

        h.call(
            "request",
            request,
            check=lambda res: self._check_dense(qid, qvec.astype(np.float64), res[0], live)
            and self._check_fused(qid, res[0], res[1]),
            kind="query",
            what="hybrid top-k",
        )


def _trace_index_reads(h) -> None:
    """In traced runs, give the index-surface reads inside the similarity
    operators catalog spans of their own, so the schema memo's hits and
    misses on the index show in catalog.memo_hit_ratio."""
    inner = similarity.read_parquet_cached

    def traced(spark, path):
        return h.span("catalog", lambda: inner(spark, path))

    similarity.read_parquet_cached = traced
