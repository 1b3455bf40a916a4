"""Deduplication operators for large-scale training-data pipelines.

Four families, all deterministic (no RNG — "random" projections derive from
hash functions so results are stable across runs and engines):

- exact:        md5 of normalized text → groupBy. One shuffle on the hash.
- MinHash+LSH:  shingle → 128 minhashes → band buckets → candidate join →
                exact-Jaccard verify. The classic near-dup pipeline (used by
                C4/RefinedWeb-style corpus cleaning). Scales as
                O(n·shingles + candidate pairs), never O(n²).
- SimHash:      64-bit signature, near-dups = small Hamming distance; bucket
                on signature bands to avoid O(n²).
- n-gram Jaccard: exact pairwise Jaccard restricted to LSH candidates (or any
                blocking key), via array_intersect/array_union.

Embedding-cosine near-dup lives in operators/similarity.py.

Everything is column algebra (codegen'd); the only shuffles are the
bucket/groupBy joins, each on bounded-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from greptimedb_spark.functions.text import fingerprint


def _should_spread(df: DataFrame, target: int) -> bool:
    """True when the source is too small to fill ``target`` partitions at
    ≥8 MB each — i.e. a small-file scan whose 1-2 splits would serialize
    compute-heavy downstream stages on one core. At 100 TB the estimate
    exceeds the bound and spreading is a no-op.

    Guard: the optimizer's size estimate (no job, ~10 ms) instead of
    ``df.rdd.getNumPartitions()`` — the RDD conversion costs ~0.3 s of py4j +
    plan translation PER CALL and was itself ~10% of the q52 bench leg
    (r11 measurement). Falls back to the partition probe when stats are
    unavailable."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df.rdd.getNumPartitions() < max(2, target // 2)
    return est < target * (8 << 20)


def _spread(df: DataFrame, *by: str) -> DataFrame:
    """Small-file sources scan as 1-2 partitions, serializing the regex-heavy
    tokenize stage on one core (measured 1.7s of the 2s sf0.1 minhash run).
    Spread the raw rows across the cluster first — the shuffle moves only the
    source bytes once and the normalization parallelizes. At 100 TB the
    source has plenty of splits and this is a no-op.

    ``by`` keys (r11): hash-partitioning on the document id instead of
    round-robin (a) skips the local sort every keyless repartition pays
    (SPARK-23207), and (b) lets every downstream window/groupBy/distinct on
    the id reuse THIS explicit exchange — explicit repartitions are not
    AQE-coalesced, so the compute-heavy signature stages keep cluster width
    instead of collapsing to one advisory-sized partition (the 256 MB
    advisory is right for shuffle sizing but starves 10 MB stages whose
    per-row compute is heavy; r11 A/B on q52: 2.62→2.30 s min)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _should_spread(df, target):
        return df.repartition(target, *[F.col(c) for c in by])
    return df


# -- exact ---------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) docs: (fingerprint, n_dups, keep_id, dup_ids)."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("id").alias("keep_id"),
            F.sort_array(F.collect_list("id")).alias("all_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint."""
    w_ids = (
        df.select(F.col(id_col).alias("__id"), fingerprint(text_col).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min("__id").alias("__keep"))
    )
    return (
        df.join(w_ids, (fingerprint(text_col) == w_ids["__fp"]) & (df[id_col] == w_ids["__keep"]), "left_semi")
    )


# -- shingling -----------------------------------------------------------------

def shingles(col, k: int = 3) -> Column:
    """Distinct k-word shingles of normalized text.

    Built by zipping k shifted copies of the token array — O(n·k); a
    slice-per-position formulation would be O(n²) per document (measured 6.8s
    for 5k docs vs ~1s for this one)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), " ")
    n = F.size(toks)
    shifted = [F.slice(toks, j + 1, n - j).alias(f"t{j}") for j in range(k)]
    zipped = F.arrays_zip(*shifted)
    full = F.transform(
        F.filter(zipped, lambda s: s[f"t{k-1}"].isNotNull()),
        lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(k)]),
    )
    return F.array_distinct(
        F.when(n >= k, full).otherwise(F.array(F.concat_ws(" ", toks)))
    )


# -- MinHash + LSH ---------------------------------------------------------------

def _perm_hash(h32: Column, i: int) -> Column:
    """i-th universal hash of a 32-bit base value: (h*A_i + B_i) mod 2^32 with
    a 31-bit odd multiplier. The product stays inside signed 64 bits
    (ANSI-safe) and the mod-2^32 wrap is what makes the family non-monotone —
    min() over a wrap-free affine map would just be an affine map of min(h)."""
    a, b = _perm_coeffs(i)
    return (h32 * F.lit(a) + F.lit(b)).bitwiseAND(F.lit(0xFFFFFFFF))


def _perm_coeffs(i: int) -> tuple[int, int]:
    a = ((2 * i + 1) * 0x9E3779B9) & 0x7FFFFFFF | 1
    b = (i * 0x27D4EB4F) & 0x7FFFFFFF
    return a, b


def _perm_hash_sql(col: str, i: int) -> str:
    """SQL-text twin of _perm_hash — the num_hashes-wide signature aggregate
    is built as ONE F.expr() string instead of ~400 py4j Column round trips
    (each Column op is a JVM call; at 64 hashes the Column form spent
    ~0.5 s/run constructing the plan — r11 A/B: q52 2.86→1.61 s min)."""
    a, b = _perm_coeffs(i)
    return f"({col} * {a}L + {b}L) & 4294967295L"


def shingle_hashes(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, h): DISTINCT 32-bit hashes of the k-word shingles of each doc.

    Fully codegen'd pipeline: posexplode tokens → window lead(k-1) builds each
    shingle string in place → hash → distinct. No array HOF lambdas (those are
    interpreted per element; this formulation benched ~4× faster), and the
    window/groupBy shuffles share the `id` key so Spark plans ONE exchange.
    Short docs (< k tokens) contribute their whole text as a single shingle,
    matching shingles()."""
    # A small file count must not serialize the whole pipeline: everything
    # downstream (window, signature agg, band joins) inherits this stage's
    # partitioning. Spreading BY id means the lead() window, the (id, h)
    # distinct and the per-id signature aggregate all reuse this one
    # explicit full-width exchange (see _spread docstring). At cluster scale
    # the source has plenty of splits and this is a no-op.
    src = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    )
    toks = src.select(
        "id",
        F.posexplode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("__text"))), r"\s+", " "), " ")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    sh = toks.withColumn("sh", F.concat_ws(" ", *parts)).withColumn(
        "last", F.lead("tok", k - 1).over(w)
    )
    # rows where the shingle is complete; short docs keep pos==0 whole-text row
    complete = sh.filter(F.col("last").isNotNull() | (F.col("pos") == 0))
    return complete.select(
        "id", F.xxhash64("sh").bitwiseAND(F.lit(0xFFFFFFFF)).alias("h")
    ).distinct()


# per-call suffix for minhash_lsh_pairs' temp views: two concurrent calls in
# one session must not overwrite each other's views (r11 VERDICT Wrong #3)
import itertools as _itertools

_MINHASH_CALL_IDS = _itertools.count()


def _band_exprs_sql(num_hashes: int, bands: int) -> list[str]:
    """One SQL band-hash expression per band: xxhash64 over that band's
    signature slice, seeded by the band index so equal slices in different
    bands land in different buckets."""
    rows_per_band = num_hashes // bands
    return [
        "xxhash64(concat_ws(',', "
        + ",".join(f"sig[{i}]" for i in range(b * rows_per_band, (b + 1) * rows_per_band))
        + f"), {b})"
        for b in range(bands)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    big_doc_hashes: int = 1 << 16,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard, jaccard ≥ threshold).

    Pipeline: shingle hashes → one grouped pass building the per-doc profile
    (shingle count, num_hashes-way MIN signature, distinct-hash array) → band
    buckets → id-only candidate join → exact-Jaccard verify by attaching the
    two docs' hash arrays to each candidate pair and taking
    size(array_intersect). Band count tunes recall:
    P(collide) = 1-(1-j^r)^b with r = num_hashes/bands.

    BUILD PATH (r11 third pass, guide §1.2 "per-task work" applied to the
    DRIVER): the plan is built as TWO spark.sql() texts instead of ~40
    chained DataFrame ops. Each classic-mode DataFrame op is an eager
    Catalyst analysis over the whole accumulated tree plus a py4j round
    trip; at 64 signature mins + 16 band hashes that cost 0.38-0.5 s per
    build — a third of the sf0.1 leg (cProfile: ~1,050 py4j commands/build,
    1.5 s of 2.0 s in socket reads across 3 builds). The SQL form analyzes
    once per statement: build 0.38→0.15 s, execution byte-identical and
    unchanged (interleaved A/B min 0.99→0.79 s, med 1.17→0.96 s).
    Two statements, not one, because the per-doc profile must persist()
    between them (below). The q52 registry entry built on it must equal the
    independently generated gate fixture (tests/fixtures/
    oracle_q52_sf001.parquet) exactly — tests/test_perf_contracts.py.

    NOTE: registers two session temp views with a PER-CALL unique suffix
    (r11 VERDICT Wrong #3: fixed names raced concurrent calls in one
    session). The src view is dropped as soon as the profile statement is
    analyzed; the per-doc view must outlive the returned plan (dropping it
    would uncache the persisted profile out from under the plan —
    dropTempView uncaches matching plans), so it stays registered: one
    ~O(name) metadata entry per call, session-scoped. Multi-ref CTEs are
    avoided in the pair statement — Spark's cache substitution does not
    reach through CTERelationRef, so each reference inlines the view flat
    (measured: the WITH form recomputed the whole tokenize pipeline 3×;
    the flat form hits the InMemoryRelation).

    CACHING CONTRACT: ONE intermediate (the per-doc profile) is persist()ed
    because it feeds three consumers of the returned plan (banding + both
    sides of the pair join); it stays cached until the caller drops it. In a
    long-lived session, call spark.catalog.clearCache() (or unpersist the
    returned plan's sources) after materializing the result — the bench
    harness does exactly this between reps.

    BIG-DOC GUARD (r12, guide §5 — unbounded per-key state): the per-doc
    distinct-hash array is doc-sized, and a pathological document's array
    would otherwise replicate per candidate pair through the verify join as
    ONE giant shuffle row. Docs with n_sh > ``big_doc_hashes`` (default 64 k
    hashes = 512 KB per array) take a row-form intersection instead: their
    hashes cross the pair join as 8-byte rows — same total bytes, bounded
    row size. The plan is picked by a LIMIT-1 probe on the (persisted)
    profile, which makes this builder EAGER (it materializes the profile at
    call time — consistent with the localCheckpoint-based builders in this
    module); corpora with no pathological docs keep the exact r11
    single-statement shape, so the common case pays one extra tiny job and
    nothing else.

    PERF EXPERIMENTS (r7, solo sf0.1): spilling
    sh to parquet and re-reading LOST to persist() (2.9s vs winner below);
    the real lever was scheduling width — AQE
    coalescePartitions.parallelismFirst=false (session default now) lets the
    many small exchanges coalesce to advisory size: 3.3s -> ~2.65s. A raw
    shuffle.partitions=16 benched 2.03s but hard-coding width is
    anti-scale; the AQE route gets most of it and stays wide at 100TB.
    r11 (second pass): the row-form intersection (joining the exploded
    (id, h) relation on both sides of each candidate pair) was replaced by
    the array-form verify, which makes the query ONE Spark job: each
    candidate pair attaches both docs' distinct-hash arrays in the join that
    fetches n_sh/sig, and |A∩B| = size(array_intersect(hs_a, hs_b)). The
    candidate-pair relation then has one consumer, so AQE picks the join
    strategy from runtime shuffle stats (the old eager pair-count job is
    gone), and a doc's hashes cross the wire once per candidate pair as one
    array row instead of as (id, h) rows through two exchanges. Solo A/B at
    sf0.1 (interleaved min-of-10): 1.69 → 1.17 s min, 3.23 → 1.66 s median.
    """
    spark = df.sparkSession
    k = shingle_k
    target = spark.sparkContext.defaultParallelism
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    hint = (
        f"/*+ REPARTITION({target}, id) */ " if _should_spread(src, target) else ""
    )
    call_id = next(_MINHASH_CALL_IDS)
    src_view = f"__minhash_src_{call_id}"
    per_doc_view = f"__minhash_per_doc_{call_id}"
    src.createOrReplaceTempView(src_view)

    # shingle window via lead() like shingle_hashes (concat_ws skips the NULL
    # leads of short docs; pos=0 keeps the whole-text shingle of docs < k)
    leads = ["tok"] + [
        f"lead(tok, {j}) OVER (PARTITION BY id ORDER BY pos)" for j in range(1, k)
    ]
    mins = ",".join(f"min({_perm_hash_sql('h', i)})" for i in range(num_hashes))
    per_doc = spark.sql(f"""
WITH spread AS (SELECT {hint}id, __text FROM {src_view}),
toks AS (
  SELECT id, pos, tok FROM spread
  LATERAL VIEW posexplode(split(regexp_replace(lower(trim(__text)), '\\\\s+', ' '), ' ')) AS pos, tok
),
sh AS (
  SELECT id, pos, concat_ws(' ', {", ".join(leads)}) AS sh,
         lead(tok, {k - 1}) OVER (PARTITION BY id ORDER BY pos) AS last
  FROM toks
),
hs AS (
  SELECT DISTINCT id, xxhash64(sh) & 4294967295 AS h
  FROM sh WHERE last IS NOT NULL OR pos = 0
)
SELECT id, count(1) AS n_sh, array({mins}) AS sig, collect_list(h) AS hs
FROM hs GROUP BY id
""").persist()  # consumed by banding and both sides of the pair join
    per_doc.createOrReplaceTempView(per_doc_view)
    # the profile statement is analyzed; the src view has no further readers
    spark.catalog.dropTempView(src_view)

    # big-doc probe (see docstring): materializes the persisted profile and
    # decides which verify plan to build. Both plans are exact.
    has_big = bool(
        per_doc.filter(F.col("n_sh") > big_doc_hashes).limit(1).count()
    )
    if has_big:
        return _verify_pairs_hybrid(
            per_doc, num_hashes, bands, jaccard_threshold, big_doc_hashes
        )

    banded = (
        "(SELECT id, explode(array(" + ",".join(_band_exprs_sql(num_hashes, bands))
        + f")) AS bucket FROM {per_doc_view})"
    )
    n_inter = "size(array_intersect(pa.hs, pb.hs))"
    return spark.sql(f"""
SELECT id_a, id_b, est_jaccard, jaccard FROM (
  SELECT c.id_a, c.id_b,
         round(size(filter(zip_with(pa.sig, pb.sig, (x, y) -> cast(x = y AS int)), v -> v = 1)) / {num_hashes}, 6) AS est_jaccard,
         round({n_inter} / (pa.n_sh + pb.n_sh - {n_inter}), 6) AS jaccard
  FROM (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM {banded} a JOIN {banded} b ON a.bucket = b.bucket AND a.id < b.id
  ) c
  JOIN {per_doc_view} pa ON pa.id = c.id_a
  JOIN {per_doc_view} pb ON pb.id = c.id_b
)
WHERE jaccard >= CAST({jaccard_threshold!r} AS DOUBLE)
""")


def _verify_pairs_hybrid(
    per_doc: DataFrame,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    big_doc_hashes: int,
) -> DataFrame:
    """Exact pair verify when pathological documents exist (n_sh over the
    guard): pairs where both docs are small keep the in-place
    array_intersect; pairs touching a big doc compute |A∩B| by exploding
    BOTH docs' hashes to (pair, h) rows and counting the (pair, h) join —
    identical result, but no row in any exchange exceeds
    ``big_doc_hashes`` array elements. The rare path affords eager
    materialization (candidates and the pair base feed two consumers each)."""
    small_hs = F.when(F.col("n_sh") <= big_doc_hashes, F.col("hs"))
    band_exprs = _band_exprs_sql(num_hashes, bands)
    banded = per_doc.select(
        "id", F.explode(F.expr("array(" + ",".join(band_exprs) + ")")).alias("bucket")
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b_, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    base = (
        cand.join(per_doc.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"),
                                 F.col("sig").alias("sig_a"),
                                 small_hs.alias("hs_a")), "id_a")
        .join(per_doc.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"),
                             F.col("sig").alias("sig_b"),
                             small_hs.alias("hs_b")), "id_b")
        .localCheckpoint(eager=True)  # two consumers (small/big split) below
    )

    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")), lambda v: v == 1)
    )

    def _finish(df: DataFrame, n_inter) -> DataFrame:
        jacc = n_inter / (F.col("na") + F.col("nb") - n_inter)
        return (
            df.withColumn("jaccard", F.round(jacc, 6))
            .withColumn("est_jaccard", F.round(matches / F.lit(num_hashes), 6))
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", "est_jaccard", "jaccard")
        )

    small = base.filter(F.col("hs_a").isNotNull() & F.col("hs_b").isNotNull())
    small_out = _finish(small, F.size(F.array_intersect("hs_a", "hs_b")))

    big = base.filter(F.col("hs_a").isNull() | F.col("hs_b").isNull()).select(
        "id_a", "id_b", "na", "nb", "sig_a", "sig_b"
    )
    # (id, h) rows ONLY for docs that appear in a big pair — the cached
    # profile supplies the arrays once per doc; the rows (not arrays) then
    # replicate per pair through the two joins
    ids = (big.select(F.col("id_a").alias("id"))
           .unionAll(big.select(F.col("id_b").alias("id"))).distinct())
    rows = per_doc.join(ids, "id", "left_semi").select(
        "id", F.explode("hs").alias("h"))
    ua = big.select("id_a", "id_b").join(
        rows.select(F.col("id").alias("id_a"), "h"), "id_a")
    ub = rows.select(F.col("id").alias("id_b"), "h")
    inter = (
        ua.join(ub, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__n_inter"))
    )
    big_out = _finish(
        big.join(inter, ["id_a", "id_b"], "left"),
        F.coalesce(F.col("__n_inter"), F.lit(0)),
    )
    return small_out.unionByName(big_out)


# -- SimHash ---------------------------------------------------------------------

def simhash64(col, token_split: str = r"\s+") -> Column:
    """64-bit SimHash over whitespace tokens (deterministic xxhash64 bits)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), token_split)

    def bit_pred(b: int):
        return lambda t: F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)) == 1

    sig = F.lit(0).cast("long")
    for bit in range(64):
        ones = F.size(F.filter(toks, bit_pred(bit)))
        vote = (ones * 2 > F.size(toks)).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(vote, bit))
    return sig


def _simhash_agg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig): SimHash via explode + packed conditional-sum aggregates
    (one shuffle of token hashes; the expression form interprets 64 HOF passes
    per row and is an order of magnitude slower).

    Bit counters are packed two per long: bits b and b+32 of xxhash64(t) are
    extracted together with one shift+mask ((h >> b) & 0x100000001) and summed
    into one 64-bit accumulator holding two 32-bit fields — 32 shift/mask/add
    per token instead of 64, half the aggregate buffer. Exact: a doc's token
    count is < 2^31 (a single row's string is < 2 GB), so the low field can
    never carry into the high field. r12 A/B: bit-identical signatures,
    ~1.15-1.25x at a 500k-doc corpus, wash at 5k (scan/shuffle floor)."""
    toks = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    ).select(
        "id",
        F.explode(F.split(F.lower(F.trim(F.col("__text"))), r"\s+")).alias("t"),
    ).select("id", F.xxhash64("t").alias("h"))
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(0x100000001))).alias(f"p{b}")
        for b in range(32)
    ]
    per_doc = toks.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(32):
        lo = F.col(f"p{b}").bitwiseAND(F.lit(0xFFFFFFFF))
        hi = F.shiftright(F.col(f"p{b}"), 32)
        sig = sig.bitwiseOR(F.shiftleft((lo * 2 > F.col("n")).cast("long"), b))
        sig = sig.bitwiseOR(F.shiftleft((hi * 2 > F.col("n")).cast("long"), b + 32))
    return per_doc.select("id", sig.alias("sig"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocking: split the 64-bit signature into 4 16-bit bands; any pair within
    Hamming ≤ 3 shares at least one exact band (pigeonhole), so the join is
    band-equality, never O(n²).

    Note: calling this EXECUTES the signature job eagerly (localCheckpoint
    materializes the narrow (id, sig) relation so the band self-join does not
    run the pipeline twice). The checkpointed intermediate has its lineage
    truncated — executor loss fails the job instead of recomputing — and is
    freed by driver GC once the returned DataFrame is unreferenced.
    """
    # materialize the narrow (id, sig) relation once: the band self-join
    # otherwise re-executes the explode + 64-aggregate signature pipeline
    # on BOTH sides
    sig = _simhash_agg(df, id_col, text_col).localCheckpoint(eager=True)
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("sig", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("bits"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bits")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- n-gram Jaccard (exact, blocked) ----------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact k-shingle Jaccard for all pairs sharing a blocking key.

    The blocking key bounds the join fan-out (e.g. language, domain, LSH
    bucket); within a block the comparison is array_intersect/union sizes.

    Note: calling this EXECUTES the shingle job eagerly (localCheckpoint of
    the (id, blk, sh) relation; same semantics as simhash_pairs — lineage
    truncated, non-fault-tolerant intermediate, freed by driver GC).
    """
    # materialize (id, blk, sh) once: the block self-join otherwise runs the
    # shingle HOF pipeline on both sides
    base = _spread(
        df.select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            F.col(text_col).alias("__text"),
        ),
        "id",
    ).select("id", "blk", shingles("__text", k).alias("sh")).localCheckpoint(
        eager=True)
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.blk").alias("block"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -- cluster resolution (pairs → connected components → canonical doc) -------------

def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """(node, component) labels for the undirected graph given as
    (id_a, id_b) pairs — min-label propagation to a fixpoint.

    The pipeline step after any near-dup pair generator: duplicates are
    EQUIVALENCE CLASSES, not pairs (a~b, b~c ⇒ keep one of {a,b,c}).
    Each iteration is one join + one min-aggregate, both on the node key;
    plain propagation converges in O(max component diameter) rounds —
    dup clusters are near-cliques so the diameter (hence round count) is
    tiny in practice. The driver only fetches one convergence counter per
    round — no row data. Raises RuntimeError if the fixpoint is not
    reached within max_iter rounds (never returns silently-split labels)."""
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = (
        edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    # localCheckpoint (eager) instead of persist: materializes the round AND
    # truncates lineage, so the analyzed plan stays constant-size across
    # rounds. The old persist() shape kept the full join lineage — plan
    # analysis grew per round and a diameter-20 component (20 rounds) hung
    # in the analyzer; it also unpersisted each round's cache before the
    # derived select() ever materialized, re-executing the prior round's
    # join from scratch on every round's first action. Each round's
    # checkpoint RDD stays materialized until the driver GCs the previous
    # `labels` reference (no public API unpersists a checkpoint RDD); the
    # retained rows are one (node, label) table per in-flight round — tiny
    # relative to the edge relation at any scale.
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels.select(F.col("node").alias("v"),
                                     F.col("label").alias("nl")), "v")
            .groupBy("u").agg(F.min("nl").alias("best"))
        )
        nxt = (
            labels.join(neigh.withColumnRenamed("u", "node"), "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("best"), F.col("label"))).alias("label"),
                (F.col("best") < F.col("label")).alias("chg"),
            )
        ).localCheckpoint(eager=True)
        changed = nxt.filter(F.col("chg")).count()  # scalar convergence probe
        labels = nxt.select("node", "label")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds; "
            "raise max_iter (components with diameter > max_iter exist)"
        )
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup clusters from a pair relation: one row per component with
    (cluster_id = min member id, n_members, keep_id, member_ids sorted).
    keep_id = lowest id (the canonical document to retain)."""
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("keep_id"),
            F.sort_array(F.collect_list("node")).alias("member_ids"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            "n_members", "keep_id", "member_ids",
        )
    )


# -- exact substring match (Lee et al. 2022) ----------------------------------------

def exact_substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_gram_docs: int | None = None,
) -> DataFrame:
    """Document pairs sharing an exact run of >= ``k`` whitespace tokens —
    the ExactSubstr dedup family of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed as the
    scale-safe anchor-gram shape instead of a monolithic suffix array:

    1. slide a k-token window over each doc -> (doc, pos, gram);
    2. keep only grams seen in >1 row (partial-agg groupBy prunes the
       ~unique majority map-side BEFORE any pair work);
    3. self-join the surviving grams on the gram -> co-occurrence pairs
       (doc_a < doc_b), fan-out bounded by per-gram group size, never
       all-pairs across the corpus;
    4. shared runs longer than k emit consecutive overlapping grams whose
       position offset (pos_a - pos_b) is constant — grouping each pair by
       that diagonal and taking max(pos)-min(pos)+k merges them into the
       run's true token length.

    Returns (doc_a, doc_b, max_run_tokens, n_shared_grams). Grams travel
    as xxhash64 of the window text (shuffle key is 8 bytes instead of the
    window string; a cross-doc collision needs ~2^32 distinct grams by the
    birthday bound — negligible against corpus-level dedup noise, and the
    diagonal merge tolerates a stray gram).

    ``max_gram_docs`` optionally drops grams occurring more than that many
    times (boilerplate guard at extreme scale: a gram shared by m docs
    emits O(m^2) pairs; those docs are near-identical and already collapse
    under minhash/exact dedup). None = exact semantics, no silent cap.

    At 100 TB: tokenize+window is map-only; one shuffle on the gram hash
    (partial count absorbs the unique-gram tail map-side), one shuffle for
    the self-join co-location, one for the (pair, diagonal) aggregation —
    all keyed finely enough to spread, no driver-side state.
    """
    toks = F.split(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " ")
    d = (df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
         .filter(F.size("__toks") >= k))
    grams = d.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - k + 1),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__toks", i, k))),
            )
        ).alias("__pos", "__gram"),
    )
    # three consumers (the duplicate-gram count, and both sides of the
    # self-join) — deliberately NOT persisted: the two self-join sides are
    # byte-identical exchange subtrees that ReuseExchange deduplicates, so
    # the gram stream is shuffled once and read twice. An r11 persist() A/B
    # broke that reuse and DOUBLED shuffle bytes at every SCALECHECK scale
    # (257.6 -> 514.1 MB at x100) for ~equal wall time — at 100 TB the
    # shuffle is the bottleneck, not the recomputed (map-only) tokenize.
    counts = grams.groupBy("__gram").agg(F.count(F.lit(1)).alias("__n"))
    dup = counts.filter(F.col("__n") >= 2)
    if max_gram_docs is not None:
        dup = dup.filter(F.col("__n") <= max_gram_docs)
    cand = grams.join(dup.select("__gram"), "__gram", "left_semi")
    a, b = cand.alias("a"), cand.alias("b")
    pairs = a.join(b, "__gram").where(F.col("a.__id") < F.col("b.__id")).select(
        F.col("a.__id").alias("doc_a"), F.col("b.__id").alias("doc_b"),
        F.col("a.__pos").alias("pa"), F.col("b.__pos").alias("pb"),
    )
    ext = pairs.groupBy(
        "doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("__diag")
    ).agg(
        # NOTE: two disjoint shared runs of one pair landing on the SAME
        # diagonal merge into their envelope (a conservative over-estimate
        # of run length); the DuckDB oracle computes the identical merge
        (F.max("pa") - F.min("pa") + k).cast("long").alias("run_tokens"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    return ext.groupBy("doc_a", "doc_b").agg(
        F.max("run_tokens").alias("max_run_tokens"),
        F.sum("n_grams").alias("n_shared_grams"),
    )
