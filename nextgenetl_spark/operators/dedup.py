"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH.

Scale design: exact dedup is a hash aggregate on a fingerprint (one
shuffle of (hash, id), never text). Near-dup at 100 TB must not be the
quadratic all-pairs join — MinHash+LSH banding reduces it to a self-join on
(band_index, band_hash) buckets, then exact Jaccard verifies only the
candidates. The quadratic ``ngram_jaccard_pairs`` is kept as the correctness
baseline for tests and small partitions (e.g. within-source blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextgenetl_spark.catalog import read_parquet_cached

from nextgenetl_spark.operators.textstats import tokens


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5; emit fingerprint, group size, canonical
    (min) id. The shuffle carries 16-byte hashes, not documents."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / union


#: Default bounded-block contract for the quadratic pair generators. A
#: 10k-row block is ~5e7 candidate pairs in ONE task — near the ceiling of
#: what a single executor core should absorb; anything bigger must go
#: through the LSH route.
MAX_BLOCK_ROWS = 10_000


def bounded_block_guard(
    df: DataFrame, block_col: str, max_block_rows: int, op_name: str, alt_hint: str
) -> DataFrame:
    """One-row guard DataFrame enforcing the bounded-block contract of a
    quadratic pair generator, evaluated lazily INSIDE the pair job (no
    driver-side count): aggregate the max block size, `assert_true` it
    against the bound. The caller broadcast-cross-joins this single row and
    filters on it, so the guard cannot be pruned out of the plan and the
    stage fails with a named block before an unbounded O(block²) join can
    silently run."""
    top = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__n")).agg(
        F.max_by(F.col(block_col).cast("string"), F.col("__n")).alias("__blk"),
        F.max("__n").alias("__n"),
    )
    msg = F.concat_ws(
        "",
        F.lit(f"{op_name}: quadratic pair generation requires bounded blocks, but block '"),
        F.col("__blk"),
        F.lit("' has "),
        F.col("__n").cast("string"),
        F.lit(f" rows > max_block_rows={max_block_rows}. {alt_hint}"),
    )
    # empty input → max("__n") is NULL; coalesce to pass (zero rows cannot
    # violate a block bound — without this, assert_true(NULL) raises and an
    # empty upstream filter crashes every guarded operator)
    cond = F.coalesce(F.col("__n") <= max_block_rows, F.lit(True))
    return top.select(F.assert_true(cond, msg).alias("__guard"))


def _with_guard(result: DataFrame, guard: DataFrame) -> DataFrame:
    # assert_true yields NULL on success; referencing it in the filter keeps
    # column pruning from eliminating the assertion expression.
    return result.crossJoin(F.broadcast(guard)).where(F.col("__guard").isNull()).drop("__guard")


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """All-pairs token-set Jaccard *within blocks* (quadratic per block —
    only safe when blocks are bounded; the LSH path below is the scale
    route). Returns (a_id, b_id, jac).

    ``max_block_rows`` enforces the bounded-block contract at execution
    time (set None ONLY when the caller already proved the bound, e.g. the
    auto-router): the job fails naming the offending block instead of
    silently running an unbounded O(block²) join."""
    # Token sets are hashed to long[] before the pair stage: the quadratic
    # intersect then compares 8-byte primitives instead of strings (same
    # Jaccard modulo 64-bit collisions, i.e. exactly, in practice).
    #
    # spread BEFORE tokenizing (guide §2.5): on a single-row-group input the
    # scan is one task, which pins BOTH the tokenize projection AND the
    # whole broadcast-hash pair probe (probe parallelism = upstream
    # partitioning) to one core — measured r11: the pair job was 1 task /
    # 5.5s of ngram_jaccard_pairs' 7.3s warm wall at sf0.1. spread is a
    # no-op on multi-row-group lakes and uses an explicit partition count,
    # which AQE never coalesces (a bare repartition(block_col) is
    # REPARTITION_BY_COL and AQE merged it right back to one partition).
    from nextgenetl_spark.catalog import spread

    hashed = F.array_distinct(F.transform(tokens(text_col), lambda t: F.xxhash64(t)))
    ts = spread(df).select(block_col, F.col(id_col), hashed.alias("tok_set")).withColumn(
        "n_tok", F.size("tok_set")
    )
    a = ts.alias("a")
    b = ts.alias("b")
    jac = jaccard(F.col("a.tok_set"), F.col("b.tok_set"))
    # J(A,B) >= t implies t*|B| <= |A| and t*|A| <= |B|: a cheap integer bound
    # evaluated before the O(|A|+|B|) intersect, pruning most pairs for free.
    # Implied by the jac filter below, so results (and oracles) are unchanged.
    size_ok = (F.col("a.n_tok") >= threshold * F.col("b.n_tok")) & (
        F.col("b.n_tok") >= threshold * F.col("a.n_tok")
    )
    out = (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.round(jac, 4).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )
    if max_block_rows is not None:
        guard = bounded_block_guard(
            df, block_col, max_block_rows, "ngram_jaccard_pairs",
            "Use minhash_near_dup_pairs (LSH) or near_dup_pairs_auto for unbounded blocks.",
        )
        out = _with_guard(out, guard)
    return out


def near_dup_pairs_auto(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_rows: int = MAX_BLOCK_ROWS,
    num_perm: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Size-routed near-duplicate pairs: blocks within the bound get the
    exact quadratic token-set Jaccard; oversized blocks get MinHash-LSH with
    candidates restricted to same-block pairs. The routing itself is part of
    the plan — a block-count aggregate broadcast against both branches — so
    no driver-side job decides the split and the operator stays lazy.

    Routed (oversized-block) pairs are verified by SHINGLE-set Jaccard, the
    LSH route's native measure; exact-branch pairs use token-set Jaccard.
    Both land in the same (a_id, b_id, jac) contract."""
    counts = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__n"))
    oversized = counts.filter(F.col("__n") > max_block_rows).select(block_col)
    # The exact branch's parallelism is owned by ngram_jaccard_pairs itself
    # (catalog.spread before the tokenize projection — guide §2.5). The
    # previous `.repartition(block_col)` here was REPARTITION_BY_COL, which
    # AQE legally coalesces by size — measured r11: it merged right back to
    # ONE partition at sf0.1, so the whole O(block²) pair job ran one task
    # (4.0s of the 5.3s warm wall). An explicit-count round-robin spread is
    # never coalesced, and broadcast-probe parallelism does not need block
    # co-location anyway.
    small = df.join(F.broadcast(oversized), block_col, "left_anti")
    big = df.join(F.broadcast(oversized), block_col, "left_semi")
    exact = ngram_jaccard_pairs(
        small, block_col, threshold, text_col, id_col, max_block_rows=None
    )
    routed = minhash_near_dup_pairs(
        big, threshold, text_col, id_col, num_perm, num_bands, shingle_n
    )
    blocks = df.select(F.col(id_col), F.col(block_col))
    routed = (
        routed.join(blocks.withColumnsRenamed({id_col: "a_id", block_col: "__ablk"}), "a_id")
        .join(blocks.withColumnsRenamed({id_col: "b_id", block_col: "__bblk"}), "b_id")
        .where(F.col("__ablk") == F.col("__bblk"))
        .select("a_id", "b_id", "jac")
    )
    return exact.unionByName(routed)


def shingles(text_col, n: int = 3) -> F.Column:
    """Token n-gram shingles as strings.

    Built by zipping the token array with its 1..n-1 shifted copies and
    concatenating element-wise — O(1) work per element, unlike the naive
    ``transform(idx, i -> concat_ws(slice(toks, i, n)))`` whose per-element
    slice copy makes shingling O(tokens × n) with allocations (measured ~4×
    slower). Tail partial windows are cut off afterwards; short docs
    (< n tokens) yield their single longest shingle, matching the naive
    form exactly."""
    toks = tokens(text_col)
    out = toks
    for shift in range(1, n):
        shifted = F.slice(toks, shift + 1, F.greatest(F.size(toks) - shift, F.lit(1)))
        # zip_with pads the shorter side with nulls; concat_ws skips them,
        # so tail entries are partial windows — trimmed by the slice below.
        out = F.zip_with(out, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(out, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(full)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: num_perm seeded min-hash values over
    the shingle set.

    Shape matters here: explode the shingles and take num_perm plain
    ``min(xxhash64(h0, seed))`` aggregates rather than nesting
    transform/array_min higher-order functions — flat aggregates stay inside
    whole-stage codegen with map-side partial aggregation (the shuffle
    carries num_perm longs per doc), where per-element HOF lambdas do not.
    Each shingle string is hashed ONCE; the permutations re-hash the 8-byte
    value with a per-permutation seed."""
    # spread before shingling (guide §2.5): the explode + per-shingle hash +
    # map-side partial min otherwise all run in the single scan task on
    # single-row-group inputs; no-op on real lakes.
    from nextgenetl_spark.catalog import spread

    base = spread(df).select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("s"))
    base = base.select(id_col, F.xxhash64("s").alias("h0"))
    aggs = [F.min(F.xxhash64(F.col("h0"), F.lit(seed))).alias(f"m{seed}") for seed in range(num_perm)]
    sigs = base.groupBy(id_col).agg(*aggs)
    return sigs.select(id_col, F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def minhash_sig_from_hashes(sh_col, num_perm: int = 32) -> F.Column:
    """Per-ROW MinHash signature (array<long>) from a PRECOMPUTED
    xxhash64 shingle-hash array: ONE transform over a seed sequence instead
    of ``num_perm`` sibling expressions each embedding the whole shingle
    subtree — the expression tree shrinks ~num_perm-fold, which is pure
    catalyst analysis/planning time (the text family's measured per-query
    floor), while values are bit-identical: ``seq(0, n-1)`` elements are
    IntegerType exactly like the old ``F.lit(seed)``, so every
    ``xxhash64(h, seed)`` hashes the same bytes. Callers should bind the
    hash array to a real column first (the two-step projection keeps the
    shingle hashing evaluated once per row; HOF lambdas are interpreted,
    so an inlined subtree would re-evaluate per seed)."""
    sh = F.col(sh_col) if isinstance(sh_col, str) else sh_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda seed: F.array_min(F.transform(sh, lambda h: F.xxhash64(h, seed))),
    )


def minhash_signature_expr(text_col, num_perm: int = 32, shingle_n: int = 3) -> F.Column:
    """Per-ROW MinHash signature as one Column expression (array<long>):
    ``array_min`` over the re-seeded shingle hashes per permutation.

    Same values as ``minhash_signatures`` (identical hash math), different
    execution shape: the batch form explodes shingles into flat map-side
    aggregates (faster on large corpora), while this form needs NO
    aggregation at all — which makes it legal in append-mode Structured
    Streaming, where a groupBy would demand watermark/window state.
    Prefer computing the hash array as its own column and calling
    ``minhash_sig_from_hashes`` (one shingle evaluation per row); this
    self-contained form re-evaluates the shingle subtree per permutation
    and exists for call sites that cannot add a projection."""
    sh = F.transform(shingles(text_col, shingle_n), lambda s: F.xxhash64(s))
    return minhash_sig_from_hashes(sh, num_perm)


def band_structs(sig_col, num_bands: int) -> F.Column:
    """(band, band_hash) structs for a signature column — the LSH banding
    expression shared by the batch self-join and the streaming
    stream-static probe."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    rows_per_band = (F.size(sig) / num_bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            # hash the long[] slice directly — no string materialization
            F.xxhash64(F.slice(sig, b * rows_per_band + 1, rows_per_band), b).alias("bh"),
        ),
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash). Each band hash
    is one value per doc, so the join input is num_bands rows per doc; the
    shuffle is by bucket, and only same-bucket docs ever meet."""
    banded = sigs.select(id_col, F.explode(band_structs("sig", num_bands)).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified by exact shingle-set Jaccard ≥ threshold.
    Verification re-joins the shingle sets only for candidate pairs; the
    sets are carried as xxhash64 longs so the verify intersect is primitive
    compares, not string compares."""
    # spread before the shingle projection (guide §2.5): single-row-group
    # inputs otherwise pin the per-doc shingle+hash work to one task; the
    # two spreads over the same scan collapse to one exchange via
    # ReuseExchange, and are no-ops on multi-row-group lakes.
    from nextgenetl_spark.catalog import spread

    sh = spread(df).select(
        F.col(id_col),
        F.transform(shingles(text_col, shingle_n), lambda s: F.xxhash64(s)).alias("sh"),
    )
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    cands = lsh_candidate_pairs(sigs, id_col, num_bands)
    a = sh.withColumnRenamed(id_col, "a_id").withColumnRenamed("sh", "a_sh")
    b = sh.withColumnRenamed(id_col, "b_id").withColumnRenamed("sh", "b_sh")
    verified = (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", F.round(jaccard(F.col("a_sh"), F.col("b_sh")), 4).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    return verified


def _swar_bit_vote_fold(base: DataFrame, id_col: str, word, reverse: bool = False) -> DataFrame:
    """Majority-vote the 64 bit positions of ``word`` per group and fold the
    winning bits into one BIGINT fingerprint — SWAR-packed, two set-bit
    counters per aggregate.

    ``word`` is a LONG Column (one element's 64-bit hash; nulls — e.g. the
    explode_outer row of an empty document — coalesce to 0, which loses
    every majority exactly like the per-bit ``when`` form did). The textbook
    shape (64 separate ``sum(±1)`` aggregates over per-bit ``when`` trees)
    is execution-cheap but PLANNING-heavy: Catalyst analysis of the wide
    plan costs ~1.5-2.5s per run regardless of data size, which dominated
    the simhash queries at bench scale (round-4 verdict: the two slowest
    verification pins). The SWAR form needs only TWO expression nodes per
    aggregate: ``(word >> j) & 0x0000000100000001`` accumulates the set-bit
    counts of bits j and j+32 in two 32-bit lanes of one 64-bit sum
    (arithmetic shift is safe: sign-fill only reaches positions > 63-j,
    and the mask keeps positions {0, 32} with j ≤ 31). A lane overflows
    only past 2^31 elements per group — far beyond any per-doc token
    count. 33 aggregates, one shuffle of one packed row per group,
    fingerprint values identical to the ±1-vote form (vote_b = 2*set_b - n
    is the same majority). Measured at sf0.1: 3.0s → 1.3s fresh-plan.

    ``reverse=False``: fingerprint bit b = word bit b (the xxhash64 layout);
    ``reverse=True``: fingerprint bit b = word bit 63-b (the md5 big-endian
    hex layout)."""
    lane_mask = F.lit((1 << 32) | 1).cast("long")
    b2 = base.select(F.col(id_col), F.coalesce(word, F.lit(0).cast("long")).alias("_w"))
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        F.sum(F.shiftright(F.col("_w"), j).bitwiseAND(lane_mask)).alias(f"p{j}")
        for j in range(32)
    ]
    votes = b2.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(32):
        for lane in range(2):
            wbit = j + 32 * lane
            b = (63 - wbit) if reverse else wbit
            set_b = F.shiftright(F.col(f"p{j}"), 32 * lane).bitwiseAND(F.lit((1 << 32) - 1))
            # shiftleft of the boolean keeps the fold tree minimal; bit 63
            # wraps to the long sign bit, which is exactly mask -2^63
            fp = fp + F.shiftleft((set_b * 2 > F.col("_cnt")).cast("long"), b)
    return votes.select(id_col, fp.alias("fp"))


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document as a DataFrame transform: explode the
    distinct tokens, hash each once, take SWAR-packed set-bit vote
    aggregates (_swar_bit_vote_fold), fold the winning bits into one BIGINT.

    Same fingerprint values as ``simhash64`` (the Column-expression form),
    but the flat aggregates stay inside whole-stage codegen with map-side
    partial aggregation — the per-element HOF accumulator in ``simhash64``
    does not, and is ~50× slower on realistic corpora. The shuffle carries
    33 packed longs per doc."""
    from nextgenetl_spark.catalog import spread

    # spread before tokenizing (guide §2.5; no-op on multi-row-group lakes)
    base = spread(df).select(
        F.col(id_col), F.explode_outer(F.array_distinct(tokens(text_col))).alias("t")
    )
    return _swar_bit_vote_fold(base, id_col, F.xxhash64("t"))


def simhash64(text_col) -> F.Column:
    """64-bit SimHash over tokens: per-bit majority vote of token hashes,
    folded into one BIGINT. One linear pass with higher-order functions —
    the vote accumulator is an array<long>[64] carried through a single
    ``aggregate`` over the token hashes (no per-bit re-scans, no UDF)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.array_distinct(tokens(c))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # literal bit masks (bit 63 is the long sign bit, hence the negative mask);
    # masks are disjoint powers of two, so summing selected masks == bitwise OR
    masks = F.array(*[F.lit((1 << b) if b < 63 else -(2**63)).cast("long") for b in range(64)])
    zero64 = F.transform(F.sequence(F.lit(0), F.lit(63)), lambda i: F.lit(0).cast("long"))
    votes = F.aggregate(
        hashes,
        zero64,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda b: F.when(h.bitwiseAND(F.element_at(masks, b + 1)) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(F.element_at(votes, i + 1) > 0, F.element_at(masks, i + 1)).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def md5_simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash whose per-token hash is the first 16 hex chars of
    ``md5(token)`` — bit b is bit (3 - b%4) of hex char b//4. Same execution
    shape as ``simhash_fingerprints`` (explode distinct tokens → 64 flat
    vote aggregates inside whole-stage codegen → fold winning masks into one
    BIGINT), but every hash step is engine-portable: md5 + hex-char
    arithmetic exist verbatim in ANSI-ish SQL, so a DuckDB oracle reproduces
    the fingerprint bit-for-bit. The xxhash64 form stays the production/perf
    path; this one is the cross-engine-verifiable pin of the algorithm."""
    from nextgenetl_spark.catalog import spread

    # spread before tokenizing (guide §2.5; no-op on multi-row-group lakes)
    base = spread(df).select(
        F.col(id_col), F.explode_outer(F.array_distinct(tokens(text_col))).alias("t")
    )
    base = base.select(id_col, F.md5("t").alias("h"))
    # Two 32-bit halves instead of 16 per-nibble substring+conv calls: hex
    # chars 1-8 big-endian → n1, 9-16 → n2. Bit b of the layout (bit 3-b%4
    # of hex char b//4) is bit (31-b) of n1 for b<32, bit (63-b) of n2
    # otherwise — identical fingerprint values, an eighth of the per-row
    # string work (this path was the slowest verification pin in BENCH_r02).
    base = base.select(
        id_col,
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("n1"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("n2"),
    )
    return md5_simhash_fingerprints_from_hashes(base, id_col)


def md5_simhash_fingerprints_from_hashes(base: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Vote-aggregate + mask-fold tail of ``md5_simhash_fingerprints`` over
    precomputed ``(id, n1, n2)`` token-hash rows (n1/n2 = big-endian ints of
    md5 hex chars 1-8 / 9-16 per DISTINCT token). Split out so a staged
    token-hash scan (computed once per corpus release, the ingest-time cost
    shape) can feed the fingerprint aggregation without re-tokenizing and
    re-hashing the corpus on every run. Votes use the SWAR-packed form
    (_swar_bit_vote_fold) — identical fingerprint values, a fraction of the
    Catalyst planning cost. Layout: fingerprint bit b is bit (31-b) of n1
    for b<32 else bit (63-b) of n2, i.e. bit (63-b) of w = n1<<32 | n2 —
    the ``reverse`` word order."""
    w = F.shiftleft(F.col("n1"), 32).bitwiseOR(F.col("n2"))
    return _swar_bit_vote_fold(base, id_col, w, reverse=True)


def _md5_simhash_fps_cte(table: str, text_col: str, id_col: str) -> str:
    """Shared WITH-chain computing ``md5_simhash_fingerprints`` as a
    ``fps({id_col}, fp)`` CTE — one generator feeding both the dedup-groups
    oracle and the hamming-pairs oracle so the bit layout cannot drift."""
    hv = ",\n           ".join(
        f"instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS hv{i}" for i in range(16)
    )
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (hv{b // 4} & {2 ** (3 - b % 4)}) <> 0 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    masks = [(1 << b) if b < 63 else -(2**63) for b in range(64)]
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({m} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b, m in enumerate(masks)
    )
    return f"""
    WITH base AS (
        SELECT {id_col}, unnest(list_distinct(string_split_regex(trim({text_col}), '\\s+'))) AS t
        FROM {table}
    ), h AS (
        SELECT {id_col}, md5(t) AS h FROM base
    ), hv AS (
        SELECT {id_col},
           {hv}
        FROM h
    ), votes AS (
        SELECT {id_col},
           {votes}
        FROM hv GROUP BY {id_col}
    ), fps AS (
        SELECT {id_col}, {fp} AS fp FROM votes
    )"""


def md5_simhash_oracle_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB SQL computing exactly ``md5_simhash_fingerprints`` grouped into
    dedup groups — generated from the same bit layout so the two can never
    drift apart."""
    return f"""{_md5_simhash_fps_cte(table, text_col, id_col)}
    SELECT fp, COUNT(*) AS n_docs, MIN({id_col}) AS canonical_id
    FROM fps GROUP BY fp
    """


def md5_simhash_hamming_oracle_sql(
    max_hamming: int = 3, table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB oracle for ``md5_simhash_near_dup_pairs``: brute-force hamming
    join over the same fingerprints. The Spark side bands; banding with
    num_bands > max_hamming is LOSSLESS by pigeonhole, so the banded result
    equals this all-pairs form exactly."""
    return f"""{_md5_simhash_fps_cte(table, text_col, id_col)}
    SELECT a.{id_col} AS a_id, b.{id_col} AS b_id,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fps a JOIN fps b ON a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


def md5_simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 4,
) -> DataFrame:
    """SimHash hamming-ball near-duplicate pairs via BANDING — the scale
    path past exact-fingerprint grouping: split the 64-bit fingerprint into
    ``num_bands`` chunks, self-join on (band, chunk) — pigeonhole: a pair
    within ``max_hamming`` < num_bands differing bits must agree on at
    least one whole band, so candidate recall is 100% and the
    bit_count-verify makes the result EXACT, equal to the all-pairs oracle.
    The join shuffles (band, 16-bit chunk, id) rows, never text; at 100 TB
    candidates ≈ true near-dups, not the pair space."""
    bits_per_band = 64 // num_bands
    mask = (1 << bits_per_band) - 1
    # lazy checkpoint: both sides of the band self-join consume fps, and AQE
    # does not reliably reuse the 64-aggregate exchange — materializing the
    # (id, fp) table (16 bytes/doc) halves the fingerprint work and is the
    # right shape at scale anyway (compute fingerprints once, band many ways)
    fps = md5_simhash_fingerprints(df, text_col, id_col).localCheckpoint(eager=False)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("fp"), b * bits_per_band).bitwiseAND(F.lit(mask)).alias("chunk"),
        )
        for b in range(num_bands)
    ]
    banded = fps.select(id_col, "fp", F.explode(F.array(*bands)).alias("bb")).select(
        id_col, "fp", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


#: Universal-hash permutation family for the portable MinHash: fixed odd
#: multipliers/offsets (deterministic, engine-neutral) and the largest prime
#: below 2^32. perm_i(h) = (A[i]*h + B[i]) mod P over the 32-bit md5 prefix;
#: products stay < 2^63, so the arithmetic is exact in any BIGINT engine.
MINHASH_P = 4294967291
#: multipliers < 2^31 so A*h < 2^63 for any 32-bit h (no BIGINT overflow
#: in either engine — Spark ANSI mode raises on long overflow)
_MINHASH_A = [2146435069, 1610612741, 805306457, 402653189, 201326611,
              100663319, 50331653, 25165843, 12582917, 6291469,
              3145739, 1572869, 786433, 393241, 196613, 98317]
_MINHASH_B = [1013904223, 1664525, 22695477, 69069, 1103515245,
              214013, 134775813, 2097593, 2531011, 40692,
              3877, 29573, 12345, 1012019, 573, 997]


def _hex_prefix_int_sql(expr: str, n_chars: int = 8) -> str:
    """Engine-neutral SQL turning the first ``n_chars`` hex chars of
    ``expr`` into an integer (polynomial build from instr lookups — DuckDB
    has no conv(); Spark evaluates the same string identically)."""
    terms = [
        f"(instr('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (n_chars - 1 - i)}"
        for i in range(n_chars)
    ]
    return "(" + " + ".join(terms) + ")"


#: Rolling-fingerprint constants: base prime and modulus chosen so every
#: intermediate (acc*B + h with acc < P < 2^31, B < 2^20, h < 2^28) stays
#: far below 2^63 — exact in any BIGINT engine.
ROLL_B = 1000003
ROLL_P = 2147483647


def md5_rolling_fingerprint(text_col) -> F.Column:
    """Order-SENSITIVE rolling content fingerprint, engine-portable: each
    token's 28-bit md5 prefix feeds a left-fold polynomial hash
    ``acc = (acc*B + h) mod P``. Unlike the set-shaped simhash/minhash
    pins, token ORDER changes this value — it is the portable analogue of
    ``textstats.fingerprint`` (the xxhash64 perf path) and shares its
    dedup-key use. One interpreted HOF pass per row (pin query, not the
    hot path)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    hs = F.transform(
        tokens(c), lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long")
    )
    return F.aggregate(
        hs, F.lit(0).cast("long"), lambda acc, h: (acc * F.lit(ROLL_B) + h) % F.lit(ROLL_P)
    )


def md5_rolling_fingerprint_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB SQL replaying ``md5_rolling_fingerprint`` exactly: the same
    28-bit md5 prefixes folded by list_reduce with the same (B, P)."""
    hexpr = _hex_prefix_int_sql("md5(t)", 7)
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS tk FROM {table}
    ), hs AS (
        SELECT {id_col}, list_transform(tk, t -> {hexpr}) AS hs FROM toks
    )
    SELECT {id_col},
           list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, h) -> (acc * {ROLL_B} + h) % {ROLL_P}) AS fp
    FROM hs
    """


def md5_minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with an engine-portable hash family:
    each shingle is md5-hashed ONCE, its 32-bit hex prefix h feeds
    ``num_perm`` universal-hash permutations ``(A[i]*h + B[i]) mod P``
    (exact BIGINT arithmetic — the textbook MinHash construction), band
    hashes are md5 over the '|'-joined band slice, and candidate pairs are
    verified by exact Jaccard over the md5'd shingle sets. Identical
    banding/verify shape to ``minhash_near_dup_pairs`` (explode → flat min
    aggregates → (band, band_hash) self-join → verify candidates only); the
    xxhash64 form is the perf path, this one is the cross-engine pin that a
    DuckDB oracle replays exactly — and one md5 per shingle instead of
    num_perm keeps the pin within ~20% of the xxhash64 form's cost."""
    sh = shingles(text_col, shingle_n)
    shm = df.select(
        F.col(id_col), F.array_distinct(F.transform(sh, lambda s: F.md5(s))).alias("shm")
    )
    return md5_minhash_pairs_from_shingles(
        shm, threshold=threshold, id_col=id_col, num_perm=num_perm, num_bands=num_bands
    )


def md5_minhash_pairs_from_shingles(
    shm_df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Signature → band → candidate-join → Jaccard-verify tail of
    ``md5_minhash_near_dup_pairs`` over a precomputed ``(id, shm)`` table of
    DISTINCT md5'd shingles per doc. One shingle+md5 scan feeds BOTH the
    signature minima (h = big-endian int of the md5's first 8 hex chars,
    exploded from shm — minima over the distinct set equal minima over raw
    occurrences) and the verify join's set-Jaccard, where the from-text form
    hashed the corpus twice; a staged scan (one md5 pass per corpus release)
    removes it from the per-run cost entirely."""
    base = shm_df.select(F.col(id_col), F.explode("shm").alias("s"))
    h = F.conv(F.substring("s", 1, 8), 16, 10).cast("long")
    base = base.select(id_col, h.alias("h"))
    aggs = [
        F.min((F.lit(_MINHASH_A[i]) * F.col("h") + F.lit(_MINHASH_B[i])) % F.lit(MINHASH_P)).alias(f"m{i}")
        for i in range(num_perm)
    ]
    sigs = base.groupBy(id_col).agg(*aggs)
    rows = num_perm // num_bands
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"m{i}").cast("string") for i in range(b * rows, (b + 1) * rows)])
            ).alias("bh"),
        )
        for b in range(num_bands)
    ]
    banded = sigs.select(id_col, F.explode(F.array(*bands)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )
    av = shm_df.withColumnRenamed(id_col, "a_id").withColumnRenamed("shm", "a_shm")
    bv = shm_df.withColumnRenamed(id_col, "b_id").withColumnRenamed("shm", "b_shm")
    return (
        cands.join(av, "a_id")
        .join(bv, "b_id")
        .select("a_id", "b_id", F.round(jaccard(F.col("a_shm"), F.col("b_shm")), 4).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def md5_minhash_oracle_sql(
    threshold: float = 0.5,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
) -> str:
    """DuckDB SQL replaying ``md5_minhash_near_dup_pairs`` exactly (shingle
    construction, universal-hash minima over the md5 32-bit prefix, banding,
    candidate join, Jaccard verify) — generated from the same parameter
    tables (_MINHASH_A/_MINHASH_B/MINHASH_P) so both sides share one
    definition. shingle_n is fixed at 3 here (the workload default)."""
    hexpr = _hex_prefix_int_sql("md5(s)")
    sig = ",\n           ".join(
        f"min(({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {MINHASH_P}) AS m{i}"
        for i in range(num_perm)
    )
    rows = num_perm // num_bands
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT {id_col}, {b} AS band, md5("
        + " || '|' || ".join(f"CAST(m{i} AS VARCHAR)" for i in range(b * rows, (b + 1) * rows))
        + f") AS bh FROM sig"
        for b in range(num_bands)
    )
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS tk FROM {table}
    ), sh AS (
        SELECT {id_col},
               list_distinct(CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))
                    ELSE [array_to_string(tk, ' ')] END) AS sh
        FROM toks
    ), ex AS (
        SELECT {id_col}, unnest(sh) AS s FROM sh
    ), hx AS (
        SELECT {id_col}, {hexpr} AS h FROM ex
    ), sig AS (
        SELECT {id_col},
           {sig}
        FROM hx GROUP BY {id_col}
    ), bands AS (
        {band_rows}
    ), cand AS (
        SELECT DISTINCT a.{id_col} AS a_id, b.{id_col} AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}
    ), shm AS (
        SELECT {id_col}, list_distinct(list_transform(sh, s -> md5(s))) AS shm FROM sh
    ), v AS (
        SELECT a_id, b_id,
               ROUND(CAST(len(list_intersect(x.shm, y.shm)) AS DOUBLE)
                     / len(list_distinct(list_concat(x.shm, y.shm))), 4) AS jac
        FROM cand
        JOIN shm x ON x.{id_col} = a_id
        JOIN shm y ON y.{id_col} = b_id
    )
    SELECT a_id, b_id, jac FROM v WHERE jac >= {threshold}
    """


def connected_components(
    edges: DataFrame, a_col: str = "a_id", b_col: str = "b_id", max_iters: int = 30
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by iterative
    min-label propagation: every node repeatedly takes the smallest label
    among itself and its neighbors until nothing changes, so each component
    converges to its minimum node id. This turns pair output (MinHash-LSH,
    SimHash banding, blocked cosine) into canonical dedup groups — the step
    between "found similar pairs" and "kept one document per group".

    Returns (node, label) for every node that appears in an edge; label is
    the component's canonical (minimum) id.

    Scale shape (r12 — DELTA propagation): the first round is computed
    directly as label(dst) = min(dst, min neighbor) — one groupBy over the
    symmetric edge list, which removes the labels-init ``distinct`` (a
    full |E| exchange) and round 1's identity join (labels_0 is the
    identity map, so joining it into the edge list moved |E| rows for
    nothing). Every later round shuffles contributions ONLY from nodes
    whose label changed last round: labels are monotone decreasing, so an
    unchanged src's contribution was already folded into dst's min in the
    round where src last changed (induction invariant: after round k,
    label_k(dst) <= label_{k-1}(src) for every edge — contributions from
    unchanged nodes are re-derivable from that inequality plus
    monotonicity). On dedup-shaped graphs the changed frontier collapses
    after round 1, so rounds x |E| shuffle bytes become |E| + frontier —
    the label-propagation analog of star contraction's geometric shrink.
    Contributions with label >= dst are pruned before the shuffle
    (label(dst) <= dst always holds after round 1). Pointer doubling
    (label := label(label), a label-table self-join, never the edge list)
    is unchanged — O(log diameter) rounds on chain-shaped graphs; doubling
    changes count as "changed" for the next frontier, so acceleration and
    delta tracking compose. Convergence = zero changed rows, one action
    per round exactly like the old change-sum check. ``localCheckpoint``
    cuts lineage each round so the plan does not grow with iterations.
    Measured (tools/cc_ab.py, interleaved min-of-5 on the real sf0.1 pair
    graph, 444,872 edges): 2.92s vs 2.99s for the pre-r12 form — local
    parity (this graph is clique-shaped, the frontier IS ~the edge list
    for its single delta round), adopted for the rounds x |E| -> |E| +
    frontier shuffle-byte cut on any graph whose diameter exceeds 2."""
    # DISK_ONLY checkpoints: the symmetric edge list and per-round label
    # tables are each read back once per round — sequential disk reads —
    # while MEMORY_AND_DISK materialization of a 50M+-row edge set under a
    # modest heap is exactly what OOMed the x100 scale run (checkpoint
    # block storage competes with the distinct's execution memory). Heap
    # stays bounded at ANY edge volume; sf0.1 cost is unmeasurable.
    from pyspark.storagelevel import StorageLevel

    # MEASURED AND REJECTED (r12, tools/cc_ab.py): pre-partitioning sym by
    # src before the checkpoint read 3.45s -> 3.15s min-of-5 on the sf0.1
    # pair graph, but the formatted round plan disproves the intended
    # mechanism — a PySpark localCheckpoint comes back as a Scan
    # ExistingRDD with UNKNOWN partitioning (plans/r12/
    # near_dup_groups_ccround_{before,after}.txt are identical: the join
    # still exchanges the sym side), so the delta was pre-clustered
    # shuffle-write locality/noise, not a removed exchange. At cluster
    # scale the repartition would ADD one full edge-list exchange at setup
    # with no per-round reuse — rejected. (A two-propagation-steps-per-
    # materialized-round variant also measured worse: 4.7s vs 3.45s —
    # deeper per-action plans cost more than the saved actions.) At
    # runtime AQE broadcast-converts the changed-frontier side while it
    # fits, so the per-round edge movement is the round-1 groupBy plus
    # each delta round's surviving contributions; the geometric
    # EDGE-SET-shrink alternative is connected_components_star.
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    # Fused round 1: min over the closed neighborhood, one |E| shuffle.
    # (F.least with the group key is legal inside agg — the key is constant
    # per group.)
    labels = (
        sym.groupBy("dst")
        .agg(F.least(F.min("src"), F.col("dst")).alias("label"))
        .select(F.col("dst").alias("node"), "label")
    )
    # Pointer doubling: label := label(label). Labels are node ids, so one
    # extra label-table self-join (small — never the edge list) jumps two
    # hops per round: O(log diameter) edge shuffles instead of
    # O(diameter) — the difference on adversarial chain-shaped graphs;
    # neutral on clique-shaped dedup graphs. Monotone (label(label) <=
    # label), so delta tracking below counts doubling moves as "changed".
    l2 = labels.select(F.col("node").alias("n2"), F.col("label").alias("l2"))
    # lazy checkpoint: still cuts lineage, but the materializing job is
    # the convergence/frontier count below — one job per round, not two
    labels = (
        labels.join(l2, labels.label == l2.n2, "left")
        .select("node", F.coalesce("l2", "label").alias("label"))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    changed = labels.where(F.col("label") != F.col("node"))
    if changed.count() == 0:
        return labels
    for _ in range(max_iters):
        # Delta round: only last round's changed nodes contribute, and only
        # contributions that can still lower the receiver (label < dst,
        # since label(dst) <= dst) reach the shuffle.
        contrib = (
            sym.join(changed.withColumnRenamed("node", "src"), "src")
            .where(F.col("label") < F.col("dst"))
            .select("dst", "label")
        )
        cand = contrib.groupBy("dst").agg(F.min("label").alias("cand"))
        merged = labels.join(cand, labels.node == cand.dst, "left").select(
            "node",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("cand", "label")).alias("label"),
        )
        l2 = merged.select(F.col("node").alias("n2"), F.col("label").alias("l2"))
        merged = (
            merged.join(l2, merged.label == l2.n2, "left")
            .select("node", "old", F.coalesce("l2", "label").alias("label"))
            .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        )
        changed = merged.where(F.col("label") != F.col("old")).select("node", "label")
        n_changed = changed.count()
        labels = merged.select("node", "label")
        if n_changed == 0:
            break
    return labels


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round: every node links its strictly-larger neighbors
    to the minimum of its closed neighborhood. ``sym`` must hold both edge
    directions. Emits a deduplicated (src, dst) edge list."""
    mins = sym.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: edges are oriented large→small, then every node
    links itself and its not-larger neighbors to the minimum neighbor.
    Emits a deduplicated (src, dst) edge list with src > dst."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = oriented.join(mins, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    own = mins.select("src", F.col("m").alias("dst"))
    return relink.union(own).where(F.col("src") != F.col("dst")).distinct()


def connected_components_star(
    edges: DataFrame, a_col: str = "a_id", b_col: str = "b_id", max_iters: int = 50
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the skew-robust alternative to min-label propagation
    (``connected_components``). Same contract: (node, label) for every node
    in an edge, label = component minimum id.

    Why keep both: label propagation shuffles the FULL edge list every
    round, so its cost is rounds × |E| even when most of the graph settled
    early. Star contraction rewrites the edge list itself — each round's
    shuffle is the CURRENT edge set, which collapses geometrically (provably
    O(log^2 n) rounds, ~5 in practice), so late rounds are near-free. On
    adversarial shapes (long chains, high-degree hubs from boilerplate
    near-dup text) this is the variant that holds up; ``near_dup_groups``
    vs ``near_dup_groups_star`` run both against one oracle.

    Convergence: the edge multiset is a fixed point exactly when the graph
    is a forest of stars pointing at component minima. Detected by an
    order-insensitive xxhash64 checksum + count — one 1-row aggregate per
    round, no anti-join."""
    from pyspark.storagelevel import StorageLevel

    # DISK_ONLY for the same reason as connected_components: per-round
    # edge sets are read once each; heap stays bounded at any edge volume.
    e = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    prev = None
    for _ in range(max_iters):
        big = _large_star(sym)
        # lazy: the convergence aggregate right below materializes the round
        e = _small_star(big).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        cur = (row["n"], row["h"])
        if cur == prev:
            break
        prev = cur
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Fixed point = stars: src→dst is node→component-min; roots label themselves.
    out = (
        e.select(F.col("src").alias("node"), F.col("dst").alias("label"))
        .union(e.select(F.col("dst").alias("node"), F.col("dst").alias("label")))
        .distinct()
    )
    # Self-loop-only nodes: the src != dst prefilter drops them from the
    # contraction, but the contract ("every node that appears in an edge")
    # and the label-prop twin both keep them (found by the graph fuzz —
    # LSH pair output never emits self-pairs, so this is contract parity,
    # not a production path). Shuffle cost is the self-loop row count.
    loops = (
        edges.where(F.col(a_col) == F.col(b_col))
        .select(F.col(a_col).alias("node"))
        .distinct()
    )
    return out.union(
        loops.join(out, "node", "left_anti").select("node", F.col("node").alias("label"))
    )


def bbit_minhash_similarity(
    df: DataFrame,
    block_col: str,
    b: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """b-bit MinHash similarity estimates (Li & König, CACM 2011): keep only
    the lowest ``b`` bits of each of ``num_perm`` minhash values —
    num_perm·b bits per doc instead of num_perm·64 — and unbias the
    matched-bit fraction with E[match] = J + (1-J)/2^b, i.e.
    J_hat = (m - 2^-b) / (1 - 2^-b). The storage win is what lets a
    100 TB corpus keep its signature matrix in memory; precision at the
    same storage budget beats fewer full-width permutations. Pair
    comparison is within blocks (same bounded-block contract as the other
    quadratic forms). Returns (a_id, b_id, jac_est)."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    mask = (1 << b) - 1
    compact = sigs.select(
        id_col, F.transform("sig", lambda h: h.bitwiseAND(F.lit(mask))).alias("bsig")
    )
    blocks = df.select(F.col(id_col), F.col(block_col))
    compact = compact.join(blocks, id_col)
    a = compact.alias("a")
    c = compact.alias("b")
    matched = F.size(F.filter(F.zip_with(F.col("a.bsig"), F.col("b.bsig"), lambda x, y: x == y), lambda t: t))
    frac = matched / F.lit(num_perm)
    correction = 1.0 / (1 << b)
    jac_est = F.greatest((frac - F.lit(correction)) / F.lit(1.0 - correction), F.lit(0.0))
    out = (
        a.join(
            c,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.round(jac_est, 4).alias("jac_est"),
        )
    )
    if max_block_rows is not None:
        guard = bounded_block_guard(
            df, block_col, max_block_rows, "bbit_minhash_similarity",
            "Use minhash_near_dup_pairs (banded LSH) for unbounded blocks.",
        )
        out = _with_guard(out, guard)
    return out


def md5_minhash_sig_from_hashes(hs_col, num_perm: int = 16) -> F.Column:
    """Portable per-ROW MinHash signature from a PRECOMPUTED hash array
    (the 32-bit md5-prefix longs): one transform over the permutation
    index with (A, B) as literal arrays — the md5 analogue of
    ``minhash_sig_from_hashes`` and the same ~num_perm-fold expression-tree
    shrink. Values identical: int×long/long×long both promote to exact
    64-bit arithmetic before the mod."""
    hs = F.col(hs_col) if isinstance(hs_col, str) else hs_col
    A = F.array(*[F.lit(_MINHASH_A[i]).cast("long") for i in range(num_perm)])
    B = F.array(*[F.lit(_MINHASH_B[i]).cast("long") for i in range(num_perm)])
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_perm)),
        lambda i: F.array_min(
            F.transform(hs, lambda h: (F.element_at(A, i) * h + F.element_at(B, i)) % F.lit(MINHASH_P))
        ),
    )


def md5_minhash_signature_expr(text_col, num_perm: int = 16, shingle_n: int = 3) -> F.Column:
    """Per-ROW portable MinHash signature (array<long>): the universal-hash
    permutations of ``md5_minhash_near_dup_pairs`` computed with array_min
    HOFs instead of aggregates — no groupBy, so it is legal in append-mode
    Structured Streaming (the md5 analogue of ``minhash_signature_expr``).
    Identical values to the batch form: same shingles, same md5 prefix,
    same (A, B, P). Prefer binding the hash array to a column and calling
    ``md5_minhash_sig_from_hashes`` (see minhash_signature_expr)."""
    sh = shingles(text_col, shingle_n)
    hs = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"))
    return md5_minhash_sig_from_hashes(hs, num_perm)


def md5_band_hash(sig_col, band: int, rows_per_band: int) -> F.Column:
    """Band hash matching ``md5_minhash_near_dup_pairs``: md5 over the
    '|'-joined stringified band slice of the signature."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    parts = [
        F.element_at(sig, band * rows_per_band + i + 1).cast("string")
        for i in range(rows_per_band)
    ]
    return F.md5(F.concat_ws("|", *parts))


def md5_stream_near_dup_oracle_sql(
    split: int,
    threshold: float = 0.5,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
) -> str:
    """DuckDB oracle for the streaming md5 near-dup probe: every (new ≥
    split, hist < split) pair that shares at least one band hash and
    verifies at the Jaccard threshold — the DISTINCT collapse equals the
    stream's first-matching-band emission exactly once per pair."""
    hexpr = _hex_prefix_int_sql("md5(s)")
    sig = ",\n           ".join(
        f"min(({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {MINHASH_P}) AS m{i}"
        for i in range(num_perm)
    )
    rows = num_perm // num_bands
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT {id_col}, {b} AS band, md5("
        + " || '|' || ".join(f"CAST(m{i} AS VARCHAR)" for i in range(b * rows, (b + 1) * rows))
        + f") AS bh FROM sig"
        for b in range(num_bands)
    )
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS tk FROM {table}
    ), sh AS (
        SELECT {id_col},
               list_distinct(CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))
                    ELSE [array_to_string(tk, ' ')] END) AS sh
        FROM toks
    ), ex AS (
        SELECT {id_col}, unnest(sh) AS s FROM sh
    ), hx AS (
        SELECT {id_col}, {hexpr} AS h FROM ex
    ), sig AS (
        SELECT {id_col},
           {sig}
        FROM hx GROUP BY {id_col}
    ), bands AS (
        {band_rows}
    ), cand AS (
        SELECT DISTINCT n.{id_col} AS new_id, o.{id_col} AS hist_id
        FROM bands n JOIN bands o
          ON n.band = o.band AND n.bh = o.bh
         AND n.{id_col} >= {split} AND o.{id_col} < {split}
    ), shm AS (
        SELECT {id_col}, list_distinct(list_transform(sh, s -> md5(s))) AS shm FROM sh
    ), v AS (
        SELECT new_id, hist_id,
               ROUND(CAST(len(list_intersect(x.shm, y.shm)) AS DOUBLE)
                     / len(list_distinct(list_concat(x.shm, y.shm))), 4) AS jac
        FROM cand
        JOIN shm x ON x.{id_col} = new_id
        JOIN shm y ON y.{id_col} = hist_id
    )
    SELECT new_id, hist_id, jac FROM v WHERE jac >= {threshold}
    """


def banded_hamming_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 3,
    num_bands: int = 4,
) -> DataFrame:
    """Generic banded hamming-ball self-join over ANY 64-bit fingerprint
    table — the fingerprint-agnostic core of ``md5_simhash_near_dup_pairs``,
    reused by the perceptual-hash (multimodal) dedup path. Pigeonhole:
    max_hamming < num_bands makes the banding lossless, so the result
    equals the all-pairs hamming join exactly. Shuffles (band, chunk, id)
    rows, never payloads."""
    if 64 % num_bands != 0:
        raise ValueError(
            f"banded_hamming_pairs: num_bands={num_bands} must divide 64 "
            f"(bands are fixed-width bit slices of the 64-bit fingerprint)"
        )
    if max_hamming >= num_bands:
        raise ValueError(
            f"banded_hamming_pairs: pigeonhole losslessness requires "
            f"max_hamming < num_bands, got max_hamming={max_hamming}, "
            f"num_bands={num_bands} — a pair differing in every band would be "
            f"silently missed; raise num_bands (must divide 64) or lower max_hamming"
        )
    bits_per_band = 64 // num_bands
    mask = (1 << bits_per_band) - 1
    f = fps.select(F.col(id_col), F.col(fp_col).alias("fp")).localCheckpoint(eager=False)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("fp"), b * bits_per_band).bitwiseAND(F.lit(mask)).alias("chunk"),
        )
        for b in range(num_bands)
    ]
    banded = f.select(id_col, "fp", F.explode(F.array(*bands)).alias("bb")).select(
        id_col, "fp", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _md5_banded_and_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(banded, shingle-set) frames for the portable md5 MinHash family —
    the two tables a persisted near-dup index stores. banded = one (id,
    band, bh) row per band; shm = (id, md5'd distinct shingle set) for the
    exact-Jaccard verify."""
    rows = num_perm // num_bands
    # spread before the shingle projections (guide §2.5): both the banding
    # explode and the shm build evaluate the zip-shift shingle expression
    # straight off the scan, and a single-row-group input serializes each
    # onto one core (measured: the probe's two broadcast-build jobs ran
    # 1.9s/2.1s single-task at sf0.1). Round-robin only moves rows; both
    # consumers are keyed aggregates/joins, so results are unchanged.
    from nextgenetl_spark.catalog import spread

    df = spread(df)
    # batch path: explode + flat min aggregates (codegen, map-side partial),
    # NOT the per-row HOF signature expression — that form exists for
    # append-mode streaming where groupBy is illegal, and is ~50x slower
    # on a batch corpus (measured on the sf0.1 probe: 10.8s -> ~1s)
    sh = shingles(text_col, shingle_n)
    h = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    base = df.select(F.col(id_col), F.explode(sh).alias("s")).select(
        id_col, h.alias("h")
    )
    aggs = [
        F.min(
            (F.lit(_MINHASH_A[i]) * F.col("h") + F.lit(_MINHASH_B[i])) % F.lit(MINHASH_P)
        ).alias(f"m{i}")
        for i in range(num_perm)
    ]
    sigs = base.groupBy(id_col).agg(*aggs)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"m{i}").cast("string") for i in range(b * rows, (b + 1) * rows)]
                )
            ).alias("bh"),
        )
        for b in range(num_bands)
    ]
    banded = sigs.select(id_col, F.explode(F.array(*bands)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    shm = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(shingles(text_col, shingle_n), lambda s: F.md5(s))
        ).alias("shm"),
    )
    return banded, shm


def build_minhash_index(
    index_dir: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> dict:
    """Persist a MinHash-LSH index for incremental near-dup: band rows
    hive-partitioned BY band (a probe for one band opens only that
    partition) plus the md5 shingle sets for candidate verification. The
    batch analogue of streaming/neardup.py's in-memory history index and
    the textual sibling of build_ivf_index — build once per corpus
    release, then every new batch probes it without re-scanning history."""
    banded, shm = _md5_banded_and_shingles(df, text_col, id_col, num_perm, num_bands, shingle_n)
    banded.write.mode("overwrite").partitionBy("band").parquet(f"{index_dir}/bands")
    shm.write.mode("overwrite").parquet(f"{index_dir}/shingles")
    return {"index_dir": index_dir, "num_perm": num_perm, "num_bands": num_bands}


def append_to_minhash_index(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> dict:
    """Fold a new batch into the persisted index (pure append — dedupe the
    batch upstream; re-running the same batch duplicates rows, same
    contract as append_to_ivf_index)."""
    banded, shm = _md5_banded_and_shingles(new_docs, text_col, id_col, num_perm, num_bands, shingle_n)
    banded.write.mode("append").partitionBy("band").parquet(f"{index_dir}/bands")
    shm.write.mode("append").parquet(f"{index_dir}/shingles")
    return {"index_dir": index_dir}


def query_minhash_index(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Probe the persisted index with a new batch: band the batch with the
    SAME hash family, equi-join (band, bh) against the stored band table
    (the shuffle carries band hashes, never text), then verify candidates
    by exact Jaccard against the stored shingle sets. Returns (new_id,
    hist_id, jac) — history never re-tokenizes, and the batch side is
    typically orders of magnitude smaller than the corpus."""
    hist_bands = read_parquet_cached(spark, f"{index_dir}/bands")
    hist_shm = read_parquet_cached(spark, f"{index_dir}/shingles").select(
        F.col(id_col).alias("hist_id"), F.col("shm").alias("hist_shm")
    )
    banded, shm = _md5_banded_and_shingles(new_docs, text_col, id_col, num_perm, num_bands, shingle_n)
    cands = (
        banded.alias("n")
        .join(
            hist_bands.alias("h"),
            (F.col("n.band") == F.col("h.band")) & (F.col("n.bh") == F.col("h.bh")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"), F.col(f"h.{id_col}").alias("hist_id")
        )
        .distinct()
    )
    new_shm = shm.select(F.col(id_col).alias("new_id"), F.col("shm").alias("new_shm"))
    return (
        cands.join(new_shm, "new_id")
        .join(hist_shm, "hist_id")
        .select(
            "new_id",
            "hist_id",
            F.round(jaccard(F.col("new_shm"), F.col("hist_shm")), 4).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )
