"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the whole point — these run over billions of docs):

- exact_dedup: hash-groupBy on a text digest. One shuffle on the
  digest (uniform key -> no skew); keeps min doc_id per group.
- ngram_jaccard_pairs: shingle -> explode -> equi-join on the shingle,
  count co-occurrences, normalize by set sizes. Never all-pairs: the
  join key is the shingle, and frequent shingles can be capped
  (``max_shingle_freq``) like stop-word removal in published
  dedup pipelines.
- minhash_lsh_pairs: k md5-derived min-hashes -> b bands of r rows ->
  band-hash bucket join -> candidate pairs -> exact Jaccard verify.
  Shuffle is on band buckets — the standard sub-quadratic LSH shape.
  Every MinHash-LSH operator here (the all-pairs, near-dedup and both
  incremental ones) shares one projection, :func:`_index_frames`, and
  one candidate verifier, :func:`_lsh_pairs`.
- simhash64: 64-bit weighted-bit fingerprint from token md5s; near-dup
  = hamming distance <= k, bucketed by 4×16-bit chunks (pigeonhole:
  hamming<=3 over 4 chunks guarantees one exact chunk match).

Values an oracle has to reproduce bit for bit — text digests, MinHash
signatures, band keys, SimHash fingerprints — are built from md5
(deterministic, available in Spark, DuckDB, and Python) by default.
Spark's ``xxhash64`` is used where only equality matters: shingle join
keys and the shingle sets exact Jaccard is verified on (the dedup
index's ``sets`` domain), which agree with a string comparison short
of a 64-bit collision; and as the opt-in ``base_hash="xxhash64"``
scale path, whose signatures have no oracle counterpart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gapless_deribit_clickhouse_spark.core.partitioning import (
    ensure_parallelism,
    spread_expansion,
)
from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE


def normalized_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the canonical form all dedup
    operators hash."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """One row per distinct normalized text: the min (or max) id wins.
    Adds ``dup_count`` (group size)."""
    digest = F.md5(normalized_text(F.col(text_col)))
    keeper = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.groupBy(digest.alias("text_hash"))
        .agg(keeper.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def gram_array(toks: Column, n: int) -> Column:
    """All overlapping word ``n``-grams of a token-array column
    (non-distinct; short arrays yield the single whole-text gram).

    Perf-critical shape: higher-order functions are interpreted (no
    codegen), and any outer expression referenced inside the lambda is
    RE-EVALUATED per element — a lambda that slices
    ``split(normalize(text))`` re-runs the regex+split once per gram,
    O(tokens²) character work per document (measured ~25x slower on
    300-char docs). Instead we zip ``n`` shifted slices of the token
    array and concat within the element, so the token array is
    evaluated a constant number of times per row and the lambda
    touches only its own element."""
    sz = F.size(toks)
    shifted = [F.slice(toks, i + 1, sz - (n - 1)) for i in range(n)]
    # non-named zip inputs get positional struct fields "0".."n-1"
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda z: F.concat_ws(" ", *[z[str(i)] for i in range(n)]),
    )
    return F.when(sz >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) of the normalized text."""
    toks = F.split(normalized_text(col), " ")
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(gram_array(toks, n))


def _shingle_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """(id_a < id_b, sz_a, sz_b, inter) for every doc pair sharing at
    least one word n-gram — the exact-intersection core both
    :func:`ngram_jaccard_pairs` (symmetric overlap) and
    :func:`containment_pairs` (asymmetric overlap) reduce with their
    own formula."""
    # shingle the text ONCE; |A| comes from the array length (no
    # second explode+groupBy), and the join key is a 64-bit hash of
    # the shingle, not the string — ~4x less shuffle volume, and both
    # join sides share one identical exchange (Spark ReusedExchange).
    arr = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("__arr")
    )
    sh = arr.select(
        "id",
        F.size("__arr").alias("sz"),
        F.explode(F.transform("__arr", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    # Co-occurrence WITHOUT a self-join: bucket by shingle, generate
    # ordered in-bucket pairs, count pair occurrences. A self-join
    # would scan+shingle+explode the corpus twice (no ReusedExchange
    # across aliased subtrees); this shape computes it once and
    # shuffles twice total. The posting-list cap (``max_shingle_freq``)
    # becomes a free ``size(ds) <= cap`` filter — the standard
    # stop-shingle skew guard: an f-doc bucket emits f(f-1)/2 pairs.
    ds = sh.groupBy("shingle").agg(F.collect_list(F.struct("id", "sz")).alias("ds"))
    if max_shingle_freq is not None:
        ds = ds.filter(F.size("ds") <= max_shingle_freq)
    # The in-bucket pair EXPLOSION below emits ~4x its input bytes
    # (f(f-1)/2 pairs per f-doc bucket), but AQE sizes the post-agg
    # stage by the exchange's INPUT bytes and coalesces it to a
    # handful of tasks (4 tasks / 1.1 s of the entry's 1.5-1.9 s at
    # sf0.1 — guide §2.5: output-expanding stages need parallelism the
    # input size doesn't justify). Re-spreading the narrow bucket rows
    # costs one cheap exchange and runs the expansion at core count
    # (optimization r12).
    ds = spread_expansion(ds)
    pairs_col = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                lambda y: F.when(
                    x["id"] < y["id"], F.struct(x.alias("a"), y.alias("b"))
                ).otherwise(F.struct(y.alias("a"), x.alias("b"))),
            ),
        )
    )
    pairs = ds.filter(F.size("ds") >= 2).select(F.explode(pairs_col).alias("p"))
    return pairs.groupBy(
        F.col("p.a.id").alias("id_a"),
        F.col("p.b.id").alias("id_b"),
        F.col("p.a.sz").alias("sz_a"),
        F.col("p.b.sz").alias("sz_b"),
    ).agg(F.count(F.lit(1)).alias("inter"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs with exact n-gram Jaccard >= threshold.

    |A∩B| via shingle equi-join; |A∪B| = |A|+|B|−|A∩B|. Output:
    id_a < id_b, jaccard. ``max_shingle_freq`` drops shingles shared
    by more than that many docs (stop-shingle skew guard at scale).
    """
    out = _shingle_pair_intersections(df, text_col, id_col, n, max_shingle_freq)
    return (
        out.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-containment pairs: |A∩B| / min(|A|, |B|) >=
    ``threshold`` over word n-gram shingle sets — the duplication
    class symmetric Jaccard MISSES (a short document quoted whole
    inside a much longer one has containment ~1 but Jaccard
    ~|small|/|large|; boilerplate-wrapped re-posts and quote-expansion
    dups live here). Output: id_a < id_b, ``containment``,
    ``contained_id`` (the smaller side — the one a dedup policy would
    drop), plus ``jaccard`` for triage.

    Scale design: the SAME single-scan shingle-bucket intersection
    core as :func:`ngram_jaccard_pairs` (one corpus shingle pass, two
    shuffles, posting-list cap as the skew guard) — containment is a
    formula on (inter, sz_a, sz_b), not a new join. This is the exact
    tier; a banded-LSH candidate stage does NOT drop in here because
    MinHash collision probability estimates Jaccard, which is
    precisely the measure containment disagrees with on the pairs
    this operator exists for."""
    out = _shingle_pair_intersections(df, text_col, id_col, n, max_shingle_freq)
    return (
        out.withColumn(
            "containment",
            F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            "containment",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
            F.when(F.col("sz_a") <= F.col("sz_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
        )
    )


def interdoc_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """Per-document inter-document repetition score: the fraction of a
    document's distinct word n-grams that also appear in at least
    ``min_docs`` documents (RefinedWeb/C4-style duplicated-n-gram
    fraction — the doc-level boilerplate signal that catches template
    pages and mirror spam, complementing ``repetition_stats``' INTRA-
    document measure). Output: (doc_id, n_shingles, shared_shingles,
    shared_fraction).

    Scale shape: shingle once, explode 64-bit shingle hashes (not
    strings — ~4x less shuffle), annotate each (doc, shingle) row with
    its shingle's document frequency via ``count() OVER (PARTITION BY
    shingle)``, and reduce per document with a conditional sum. The
    window REPLACES the naive aggregate-then-join-back plan (which
    scans and shingles the corpus twice — self-consuming subtrees
    diverge under column pruning, so exchange reuse cannot rescue it):
    exactly ONE corpus scan and two shuffles (shingle, then doc_id).
    A stop-shingle shared by millions of documents is one big — but
    disk-backed — window partition, never a per-shingle collect_list
    (the hot-key case a gather-based formulation OOMs on). Linear in
    corpus size — unlike pair emission there is no clique blowup, so
    no frequency cap is needed; output is exactly one row per
    document."""
    from pyspark.sql import Window

    arr = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("__arr")
    )
    sh = arr.select(
        "doc_id",
        F.explode(F.transform("__arr", lambda s: F.xxhash64(s))).alias("sh"),
    )
    # shingles are distinct per doc, so the partition row count IS the
    # document frequency
    df_count = F.count(F.lit(1)).over(Window.partitionBy("sh"))
    shared = F.sum(
        F.when(F.col("df_count") >= min_docs, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        sh.withColumn("df_count", df_count)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            shared.alias("shared_shingles"),
        )
        .withColumn(
            "shared_fraction", F.col("shared_shingles") / F.col("n_shingles")
        )
    )


def _md5_hash64(col: Column, seed: int) -> Column:
    """Deterministic 60-bit hash: first 15 hex chars of md5(seed||x)
    parsed base-16. Reproducible everywhere (DuckDB oracle re-derives
    the same bits from the hex digits)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), col)), 1, 15), 16, 10).cast(
        "long"
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1; (p-1)^2 fits in int64


def minhash_affine_params(num_hashes: int, seed: int = 12345) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod p`` — the same scheme as Spark ML's
    MinHashLSH. Shared by the Spark operator and the DuckDB oracle."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_params(
    threshold: float,
    target_recall: float = 0.9,
    max_hashes: int = 256,
) -> tuple[int, int]:
    """Derive ``(num_hashes, bands)`` for banded MinHash-LSH from the
    Jaccard threshold — the companion of ``embeddings.lsh_params``.

    A band of ``r`` rows matches a pair at Jaccard ``s`` with ``s**r``;
    ``B`` bands give recall ``1 − (1 − s**r)**B``. Larger ``r`` is more
    selective (random low-similarity pairs collide at ``s_low**r``),
    so we pick the LARGEST ``r`` whose band count for the recall
    target still fits the ``max_hashes`` signature budget. Unlike
    sign-LSH, bucket count here is the full hash space, so corpus size
    does not enter — selectivity is governed by ``r`` alone.
    """
    import math

    s = min(max(threshold, 1e-6), 1.0 - 1e-9)
    best = (1, 1)
    for r in range(1, 17):
        sr = s**r
        b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - sr)))
        if r * b <= max_hashes:
            best = (r, b)
    r, b = best
    return (r * b, b)


def _lsh_params(
    threshold: float, num_hashes: int | None, bands: int | None
) -> tuple[int, int]:
    """``(num_hashes, bands)`` with either one left ``None`` filled in
    from :func:`minhash_params`."""
    if num_hashes is None or bands is None:
        auto_hashes, auto_bands = minhash_params(threshold)
        num_hashes = auto_hashes if num_hashes is None else num_hashes
        bands = auto_bands if bands is None else bands
    return num_hashes, bands


def _index_frames(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    base_hash: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(digests, bands, sets)``: the dedup index tables of ``df`` as
    lazy frames, in the persisted tables' columns and hash domains —
    the ONE MinHash projection every LSH operator in this module uses.

    - ``digests`` (digest): distinct md5 of the normalized text.
    - ``bands`` (id, band, band_hash): each band's sub-signature
      md5-hashed to one join key, the LSH bucket key.
    - ``sets`` (id, sset): ``array_distinct(xxhash64(shingle))``
      whatever ``base_hash`` is — the domain exact Jaccard is verified
      on; with ``xxhash64`` it IS the distinct base hash, so nothing is
      hashed twice.

    The tokenize+shingle+hash pass — the dominant map cost — runs ONCE
    behind a lazy localCheckpoint fence and feeds both the band table
    and the verification sets; without the fence Catalyst executes
    the projection once per consumer (VERDICT r7 #3). The arrays are
    never carried THROUGH the band explosion (that would multiply them
    across ``bands`` exploded rows).

    The per-shingle base hash ``__harr`` is UNREDUCED (60-bit md5
    prefix / full signed xxhash64); the mod-p reduction the affine
    minhash family needs happens inside the signature expression.
    ``base_hash``: ``md5`` (default) is bit-reproducible in the DuckDB
    oracle; ``xxhash64`` is the scale path — the same codegen'd 64-bit
    hash Spark's own MinHashLSH family builds on, ~3x cheaper than a
    hex digest + parse, engine-internal only. Near-dup quality is
    equivalent (both are uniform over the shingle set); signatures are
    NOT comparable across the two modes."""
    if base_hash == "md5":
        base = (
            "CAST(conv(substring(md5(concat('0:', s)), 1, 15), 16, 10) "
            "AS BIGINT)"
        )
        sset = "transform(__arr, s -> xxhash64(s))"
    elif base_hash == "xxhash64":
        base = "xxhash64(s)"
        sset = "__harr"
    else:
        raise ValueError(f"base_hash must be md5|xxhash64, got {base_hash!r}")
    harr = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("__arr"))
        .select("id", "__arr", F.expr(f"transform(__arr, s -> {base})").alias("__harr"))
        .select("id", "__harr", F.expr(f"array_distinct({sset})").alias("sset"))
        .localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    )
    # pmod reduces the unreduced base into [0, p) first (60-bit md5
    # prefixes are non-negative so % == pmod), then the affine family;
    # (p-1)^2 fits in int64. The (a, b) family is a LITERAL struct
    # array folded by ONE outer lambda (optimization r13): num_hashes
    # separate `array_min(transform(...))` expressions each carried
    # their own lambda, and analyzing/optimizing 210 lambda bindings
    # (the auto-sized threshold-0.8 family) cost ~4x this form per
    # construction — byte-identical signatures.
    p = MINHASH_PRIME
    fam = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)"
        for a, b in minhash_affine_params(num_hashes)
    )
    sig = (
        f"transform(array({fam}), pr -> "
        f"array_min(transform(__harr, h -> (pmod(h, {p}L) * pr.a + pr.b) % {p}L)))"
    )
    r = num_hashes // bands
    band_sql = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"signature[{b * r + i}]" for i in range(r))
        + "))"
        for b in range(bands)
    )
    band_rows = harr.select("id", F.expr(sig).alias("signature")).select(
        "id", F.posexplode(F.expr(f"array({band_sql})")).alias("band", "band_hash")
    )
    digests = df.select(
        F.md5(normalized_text(F.col(text_col))).alias("digest")
    ).distinct()
    return digests, band_rows, harr.select("id", "sset")


def _lsh_pairs(
    a: tuple[DataFrame, DataFrame],
    b: tuple[DataFrame, DataFrame] | None,
    threshold: float,
) -> DataFrame:
    """``(id_a, id_b, jaccard)``: the pairs whose band tables share a
    ``(band, band_hash)`` bucket and whose exact Jaccard on the
    ``sset`` domain is >= ``threshold``. ``a`` and ``b`` are the
    ``(bands, sets)`` of :func:`_index_frames` frames; ``b=None``
    pairs ``a`` with itself (each unordered pair once, ``id_a <
    id_b``), otherwise every ``a`` x ``b`` pair is a candidate.

    Verification does not explode again: each candidate pair joins the
    two docs' shingle-set ARRAYS and intersects them per pair —
    candidates are few (that's the point of LSH), so two narrow joins
    + array_intersect beat re-exploding the sets into two more
    shuffles."""
    bands_a, sets_a = a
    bands_b, sets_b = a if b is None else b
    cand = bands_a.withColumnRenamed("id", "id_a").join(
        bands_b.withColumnRenamed("id", "id_b"), ["band", "band_hash"]
    )
    if b is None:
        cand = cand.filter(F.col("id_a") < F.col("id_b"))
    joined = (
        cand.select("id_a", "id_b")
        .distinct()
        .join(sets_a.withColumnsRenamed({"id": "id_a", "sset": "set_a"}), "id_a")
        .join(sets_b.withColumnsRenamed({"id": "id_b", "sset": "set_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int | None = 32,
    bands: int | None = 8,
    threshold: float = 0.5,
    base_hash: str = "md5",
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact Jaccard.

    rows-per-band r = num_hashes//bands; candidate iff some band's
    sub-signature matches exactly (bucket equi-join on the band hash —
    sub-quadratic, shuffle keyed by (band, hash)). Verification joins
    candidates back to their shingle sets and keeps jaccard >=
    threshold. The sets are the dedup index's ``sset`` domain
    (``xxhash64`` per shingle) under either ``base_hash``: the Jaccard
    equals the string-set Jaccard short of a 64-bit collision, and
    ``md5`` mode pays one extra xxhash64 per shingle for it.

    ``num_hashes=None`` auto-sizes the signature from ``threshold``
    via :func:`minhash_params` (the defaults 32/8 stay for oracle
    stability).
    """
    num_hashes, bands = _lsh_params(threshold, num_hashes, bands)
    _, band_rows, sets = _index_frames(
        df, text_col, id_col, n, num_hashes, bands, base_hash
    )
    return _lsh_pairs((band_rows, sets), None, threshold)


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    base_hash: str = "md5",
) -> DataFrame:
    """60-bit SimHash over unigram tokens: for each bit, sum(+1/−1 by
    token-hash bit) > 0. Pure column algebra: explode tokens, hash ->
    60-bit int, per-bit vote via groupBy sum — one shuffle.

    ``base_hash``: ``md5`` (default) is bit-reproducible in the DuckDB
    oracle; ``xxhash64`` is the scale path (codegen'd 64-bit hash, no
    hex digest + parse — same tradeoff as the MinHash tier).
    Signatures are NOT comparable across the two modes."""
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))).alias("tok"),
    )
    # hash in a projection BELOW the aggregate: vote expressions
    # reference the already-computed long instead of embedding their
    # own md5+conv subtree (aggregate expressions don't get
    # subexpression elimination -> it would re-run md5 per vote).
    if base_hash == "md5":
        toks = toks.select("id", _md5_hash64(F.col("tok"), 0).alias("__h"))
    elif base_hash == "xxhash64":
        # two's-complement bits of a signed long are still uniform
        toks = toks.select("id", F.xxhash64("tok").alias("__h"))
    else:
        raise ValueError(f"base_hash must be md5|xxhash64, got {base_hash!r}")
    h = F.col("__h")
    # Pack the 60 per-bit one-counts into 15 longs of 4x16-bit lanes:
    # aggregation state (and therefore partial-agg shuffle bytes) is
    # 15 longs + count instead of 60 longs, and the generated agg code
    # is 4x narrower. Lanes can't overflow below 65k tokens per doc
    # (array_distinct'd unigrams — far beyond any real document).
    # built as SQL strings: one F.expr = one py4j call + one JVM parse,
    # vs hundreds of Column-API round-trips for the same tree
    def lane_sql(i: int) -> str:
        terms = " + ".join(
            f"shiftleft(CAST(shiftright(__h, {4 * i + j}) & 1 AS BIGINT), {16 * j})"
            for j in range(4)
        )
        return f"sum({terms}) AS p{i}"

    agg = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.expr(lane_sql(i)) for i in range(15)],
    )
    # bit b set iff ones > zeros iff 2*ones_count > n
    total_sql = " + ".join(
        f"IF((shiftright(p{b // 4}, {16 * (b % 4)}) & 65535) * 2 > __n, "
        f"{2**b}L, 0L)"
        for b in range(60)
    )
    return agg.select("id", F.expr(total_sql).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    base_hash: str = "md5",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= k, found by bucketing
    on 15-bit chunks (pigeonhole over 4 chunks covers k <= 3).

    The signature table is localCheckpointed before the chunk-bucket
    self-join: aliased self-join subtrees get no exchange reuse, so
    without the barrier the whole tokenize+explode+15-lane vote
    aggregation — the corpus-scale cost of the operator — executes
    once per side. The checkpoint is one long per document,
    metadata-scale.

    Pair dedup is a FILTER, not a ``distinct()`` (r11): a pair whose
    signatures agree in m chunks comes out of the chunk-bucket join
    exactly m times — once per shared chunk — and "this chunk is the
    first zero 15-bit slice of sh_a XOR sh_b" is true for exactly one
    of those copies. The old distinct shuffled the full candidate set
    (the operator's only post-checkpoint exchange); the filter does
    the same dedup with pure column algebra, and at 100 TB removes the
    one stage whose cost grows with the candidate count."""
    sig = simhash64(df, text_col, id_col, base_hash).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    chunks = F.array(*[
        F.shiftright(F.col("simhash"), c * 15).bitwiseAND(F.lit(0x7FFF)).alias(f"c{c}")
        for c in range(4)
    ])
    b = sig.select("id", "simhash", F.posexplode(chunks).alias("chunk", "chunk_val"))
    cand = (
        b.alias("x")
        .join(b.alias("y"), on=["chunk", "chunk_val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("chunk"),
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").bitwiseXOR(F.col("y.simhash")).alias("xr"),
        )
    )
    first_zero_chunk = (
        F.when(F.expr("(xr & 32767L) = 0"), 0)
        .when(F.expr("(shiftright(xr, 15) & 32767L) = 0"), 1)
        .when(F.expr("(shiftright(xr, 30) & 32767L) = 0"), 2)
        .otherwise(3)
    )
    return (
        cand.filter(F.col("chunk") == first_zero_chunk)
        .withColumn("hamming", F.bit_count(F.col("xr")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def near_dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    base_hash: str = "md5",
) -> DataFrame:
    """The one-call near-dedup filter: exact dedup -> MinHash-LSH
    candidate pairs -> connected components -> keep one canonical doc
    per cluster. Returns the KEPT rows of ``df`` (all original
    columns), i.e. the corpus with exact and near duplicates removed.

    Pipeline order is the standard scale recipe (see SCALING.md):
    exact dedup FIRST collapses exact-duplicate cliques to one row, so
    the pair-generating LSH stage never sees them (pair output is
    inherently quadratic in clique size). The canonical survivor of a
    cluster is the minimum id (deterministic, matching
    ``exact_dedup``'s keep="min").

    Shuffle budget: ONE semi-join shuffle for the exact tier (keeping
    full rows per distinct text cannot avoid it), the LSH stages on
    the deduped survivors, then a final ANTI join against the
    near-duplicate loser set — which contains only ids that lost a
    connected-components election, so it is near-dup-count-sized, not
    corpus-sized; AQE turns the anti join into a broadcast at runtime
    when it is small (the common case). ``survivors`` is
    local-checkpointed (lazily, the ``connected_components`` pattern)
    because the components stage runs its own actions: without the
    lineage cut, the final anti join would re-execute the exact-tier
    scan + groupBy + semi join a second time. The LSH stage is
    :func:`minhash_lsh_pairs`' (same projection, same verifier), so
    near-duplicate Jaccard is checked on the index ``sset`` domain.
    """
    num_hashes, bands = _lsh_params(threshold, num_hashes, bands)
    return _near_dedup_batch(
        df, text_col, id_col, n, threshold, num_hashes, bands, base_hash
    )[0]


def _near_dedup_batch(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    num_hashes: int,
    bands: int,
    base_hash: str,
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """:func:`near_dedup_corpus`'s kept rows, plus the ``(bands,
    sets)`` index frames of its exact-tier survivors — the batch side
    the incremental operators probe the corpus with, so a batch is
    shingled once for both tiers."""
    from gapless_deribit_clickhouse_spark.operators.connected_components import (
        connected_components,
    )

    winners = exact_dedup(df, text_col=text_col, id_col=id_col, keep="min").select(
        id_col
    )
    survivors = df.join(winners, id_col, "semi").localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    _, band_rows, sets = _index_frames(
        survivors, text_col, id_col, n, num_hashes, bands, base_hash
    )
    cc_stats: dict = {}
    comp = connected_components(
        _lsh_pairs((band_rows, sets), None, threshold), stats=cc_stats
    )
    if cc_stats.get("input_edges") == 0:
        # no near-dup pairs at all (the steady-state common case for a
        # clean corpus): the loser set is empty by construction, so the
        # anti join is the identity — skip it (optimization r13)
        return survivors, (band_rows, sets)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return survivors.join(losers, id_col, "left_anti"), (band_rows, sets)


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    base_hash: str = "md5",
) -> DataFrame:
    """Dedup a NEW batch against itself AND an existing corpus,
    without re-clustering the corpus — the steady-state shape of a
    100 TB pipeline, where crawls arrive in batches and the
    already-deduped corpus must never be re-paired against itself.

    Returns the kept rows of ``new_df`` (all original columns): docs
    that survive (1) within-batch exact + near dedup
    (``near_dedup_corpus`` — min-id canonical per cluster), (2) an
    exact anti-join against the corpus's normalized-text digests, and
    (3) a banded-LSH candidate join of batch signatures against
    corpus signatures with exact-Jaccard verification — a new doc
    with jaccard >= threshold against ANY corpus doc is dropped.

    This is :func:`incremental_dedup_indexed` against an index that is
    never written: the same three corpus-side tables
    (:func:`build_dedup_index`) derived LAZILY from ``corpus_df`` — a
    few NARROW corpus passes (text digest; one tokenize+shingle+hash
    pass feeding the band table and the verification sets), no
    corpus-corpus pairs, and nothing started in the background: every
    job construction runs (the within-batch connected-components
    stage) runs on the caller's thread. A production deployment
    persists the index once and appends per batch instead (zero
    corpus-text passes per batch). Candidate volume is batch-sized x
    band-collision rate, so the cross join scales with the BATCH, not
    the corpus."""
    num_hashes, bands = _lsh_params(threshold, num_hashes, bands)
    index = _index_frames(corpus_df, text_col, id_col, n, num_hashes, bands, base_hash)
    return _dedup_against_index(
        new_df, index, text_col, id_col, n, threshold, num_hashes, bands, base_hash
    )


# --- persisted dedup index (VERDICT r5 #5) ------------------------------
#
# The steady-state 100 TB shape: the corpus's dedup artifacts are pure
# functions of its text, so they are computed ONCE when the corpus is
# built and appended per batch — each incoming batch then touches ZERO
# corpus text. Three parquet tables:
#
#   digests/  (digest)              exact-tier anti-join key, distinct
#   bands/    (id, band, band_hash) LSH bucket table, written
#                                   partitioned by band so the batch-
#                                   side probe prunes to its own bands
#   sets/     (id, sset)            hashed-shingle arrays for exact-
#                                   Jaccard verification of candidates
#   meta/     (1 row)               the LSH parameters baked into the
#                                   tables; the indexed operator
#                                   refuses mismatched parameters
#                                   instead of silently mixing hash
#                                   families

_INDEX_META_COLS = ("n", "threshold", "num_hashes", "bands", "base_hash")


def build_dedup_index(
    corpus_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    base_hash: str = "md5",
) -> None:
    """Materialize the corpus-side dedup artifacts as parquet under
    ``path`` — one corpus pass now, zero corpus passes per future
    batch. ``incremental_dedup_indexed(batch, path)`` is then
    output-equivalent to ``incremental_dedup(batch, corpus)`` (pinned
    by tests/test_pipelines.py).

    Appending a deduped batch to the corpus = appending the SAME three
    projections of the batch's survivors (mode="append"); parquet
    append is atomic per file, so index growth is a plain ETL step."""
    num_hashes, bands = _lsh_params(threshold, num_hashes, bands)
    _write_index_tables(
        corpus_df, path, "overwrite", text_col, id_col, n, num_hashes, bands, base_hash
    )
    corpus_df.sparkSession.createDataFrame(
        [(n, float(threshold), int(num_hashes), int(bands), base_hash)],
        list(_INDEX_META_COLS),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _write_index_tables(
    df: DataFrame,
    path: str,
    mode: str,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    base_hash: str,
) -> None:
    # Write order is a crash-recovery contract (ADVICE r6): digests go
    # LAST. The digests table is what a replayed batch anti-joins
    # itself away against — if a crash landed digests but not
    # bands/sets, the replay would skip the batch and its LSH rows
    # would be missing FOREVER (future near-duplicates escape). With
    # digests last, a partial append leaves the batch still visible to
    # the replay: it re-appends bands/sets (duplicate rows degrade
    # space, not answers — consumers distinct() candidates and losers)
    # and only then commits the digests marker.
    digests, band_rows, sets = _index_frames(
        df, text_col, id_col, n, num_hashes, bands, base_hash
    )
    # partitioned by band: the batch probe joins on (band, band_hash),
    # so partition pruning would let a band-sliced probe read 1/bands
    # of the table; more importantly the layout keeps each band's
    # bucket table contiguous for the shuffle read
    band_rows.write.mode(mode).partitionBy("band").parquet(f"{path}/bands")
    sets.write.mode(mode).parquet(f"{path}/sets")
    digests.write.mode(mode).parquet(f"{path}/digests")


def _index_meta(spark: SparkSession, path: str) -> tuple[int, float, int, int, str]:
    """``(n, threshold, num_hashes, bands, base_hash)`` from the index's
    meta table."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return (
        int(meta["n"]),
        float(meta["threshold"]),
        int(meta["num_hashes"]),
        int(meta["bands"]),
        meta["base_hash"],
    )


def append_dedup_index(
    batch_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a (deduplicated) batch's three index projections to an
    existing index — the "plain ETL step" the build docstring promises.
    LSH parameters come from the index's meta table so the appended
    signatures use the SAME hash family the stored ones do; the meta
    table itself never changes. Re-appending the same batch (e.g. a
    replayed foreachBatch) degrades only space, not answers: the
    consumers anti-join digests and ``distinct()`` both the candidate
    pairs and the loser set, so duplicate index rows cannot change the
    survivor set."""
    n, _, num_hashes, bands, base_hash = _index_meta(batch_df.sparkSession, path)
    _write_index_tables(
        batch_df, path, "append", text_col, id_col, n, num_hashes, bands, base_hash
    )


def incremental_dedup_indexed(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``incremental_dedup`` against a persisted index instead of the
    corpus itself: the same three tiers, but every corpus-side input
    is a parquet read — the per-batch cost no longer includes
    normalizing/shingling/hashing the corpus at all. LSH parameters
    come from the index's meta table (they are baked into the stored
    signatures; passing different ones would silently compare
    incompatible hash families)."""
    spark = new_df.sparkSession
    index = tuple(
        spark.read.parquet(f"{index_path}/{t}") for t in ("digests", "bands", "sets")
    )
    return _dedup_against_index(
        new_df, index, text_col, id_col, *_index_meta(spark, index_path)
    )


def _dedup_against_index(
    new_df: DataFrame,
    index: tuple[DataFrame, DataFrame, DataFrame],
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    num_hashes: int,
    bands: int,
    base_hash: str,
) -> DataFrame:
    """The three incremental-dedup tiers of ``new_df`` against a
    corpus-side ``(digests, bands, sets)`` index — persisted parquet or
    the lazy :func:`_index_frames` of a corpus, the one implementation
    behind both public operators."""
    digests, corp_bands, corp_sets = index

    # (1) within-batch exact + near dedup; it also hands back the index
    # frames of its exact-tier survivors, the batch side of tier (3)
    batch, batch_index = _near_dedup_batch(
        new_df, text_col, id_col, n, threshold, num_hashes, bands, base_hash
    )

    # (2) exact tier vs corpus: anti-join on the normalized digest
    # (temp column name dodges any real column on the caller's input —
    # the contract is "all original columns back", including weird ones)
    h = "__h"
    while h in batch.columns:
        h += "_"
    batch = (
        batch.withColumn(h, F.md5(normalized_text(F.col(text_col))))
        .join(digests.select(F.col("digest").alias(h)), h, "left_anti")
        .drop(h)
    )

    # (3) near tier vs corpus: band-bucket equi-join of the batch's
    # exact-tier survivors against the corpus, verified on the
    # candidates only. It may flag docs tiers (1)/(2) already dropped;
    # the anti join onto ``batch`` discards those.
    losers = (
        _lsh_pairs(batch_index, (corp_bands, corp_sets), threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return batch.join(losers, id_col, "left_anti")


def substring_dup_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Per-document fraction of token POSITIONS covered by a
    ``window``-token substring that also appears verbatim in at least
    one OTHER document — the exact-substring duplication metric of
    dedup pipelines that REMOVE duplicated spans rather than whole
    near-duplicate docs (complement of the doc-level MinHash tier:
    catches boilerplate shared across otherwise-distinct documents).

    Positional, not set-based: unlike :func:`ngram_jaccard_pairs`'s
    distinct-shingle Jaccard, the unit here is a token position, and a
    position counts once no matter how many windows cover it — the
    union-of-intervals coverage a span-removal pass would cut.

    Scale shape: tokens -> positioned windows (posexplode; ~n_tokens
    rows per doc) -> window-content groupBy keeping contents seen in
    >= 2 distinct docs -> equi-join back -> per-position distinct ->
    per-doc count. Never all-pairs; the join key is a 64-bit hash of
    the window content, so shuffle rows are (id, pos, int64), and the
    duplicated-window side is typically a small fraction of the corpus
    (AQE broadcasts it when it is). Documents shorter than ``window``
    tokens contribute their whole text as one window, mirroring
    :func:`gram_array`.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    # The barrier sits BEFORE the positional explode (optimization
    # r13, revising r12's post-explode placement that regressed at
    # sf0.1): the heavy tokenize+gram+hash pass still runs exactly
    # once for all three consumers, but the block store now holds ONE
    # compact int64-array row per document instead of ~n_tokens
    # exploded rows — the r12 barrier's block-store tax exceeded the
    # saved map pass at bench scale. Each consumer re-runs only the
    # posexplode (pure expansion of in-memory longs). Interleaved
    # A/B/C at sf0.1: post-explode ckpt 1.24s / no ckpt 1.15s / this
    # form 1.12s (and this form is the only one that also feeds
    # per_doc below without a THIRD tokenize pass).
    hbase = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tokens"),
        F.transform(gram_array(toks, window), lambda g: F.xxhash64(g)).alias(
            "__harr"
        ),
    ).localCheckpoint(eager=False, storageLevel=BARRIER_STORAGE)
    base = hbase.select(
        "id", "n_tokens", F.posexplode("__harr").alias("pos", "h")
    )
    dup_h = (
        base.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    covered = (
        base.join(dup_h, "h")
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("pos"),
                    F.least(F.col("pos") + window - 1, F.col("n_tokens") - 1),
                )
            ).alias("p"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_positions"))
    )
    # token counts ride the checkpoint — the former df.select(size(
    # toks)) branch re-ran the whole normalize+split serially on the
    # scan task just to count tokens (optimization r13)
    per_doc = hbase.select("id", "n_tokens")
    return (
        per_doc.join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            (
                F.coalesce("n_dup_positions", F.lit(0))
                / F.col("n_tokens")
            ).alias("dup_fraction"),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 10,
) -> DataFrame:
    """Corpus-wide duplicated-segment REMOVAL — the transform
    counterpart of :func:`substring_dup_fraction`'s metric, and the
    fixed-span analogue of C4's duplicate-line drop (the corpus here
    has no newlines, so the segmentation unit is ``seg_tokens``
    consecutive normalized tokens instead of a line).

    Every document is split into consecutive ``seg_tokens``-token
    segments (the tail keeps whatever remains). A segment survives
    only at its canonical first occurrence — lowest ``(doc_id,
    seg_idx)`` across the whole corpus — so repeated boilerplate is
    kept exactly once and cut everywhere else, including repeats
    within one document. Surviving segments are reassembled in
    original order.

    Scale shape: ONE scan — tokens -> segments (posexplode over a
    PROJECTED token array, so the split runs once per doc, not once
    per segment) -> one shuffle on the segment text for the
    canonical-occurrence window (uniform key: segment content) -> one
    shuffle on the doc id where a single conditional aggregation
    yields totals, survivor count, and the reassembled text together
    (no totals-vs-kept diamond, no join). At 100 TB both shuffles
    carry one row per segment, a ``seg_tokens``-fold reduction over
    token-level keys.

    Reference parity: the reference dedups whole rows at read time
    (ReplacingMergeTree FINAL); span-level curation is the LLM-tier
    extension the task brief asks for (C4 §2.3-style line dedup).
    """
    from pyspark.sql import Window

    segs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.split(normalized_text(F.col(text_col)), " ").alias("toks"),
        )
        .select("id", "toks", F.size("toks").alias("n_tokens"))
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.col("n_tokens") - 1) / seg_tokens).cast(
                            "int"
                        ),
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i * seg_tokens + 1, seg_tokens),
                        " ",
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
    )
    first = Window.partitionBy("seg").orderBy("id", "seg_idx")
    keep = F.row_number().over(first) == 1
    return (
        segs.withColumn("kept_seg", F.when(keep, F.struct("seg_idx", "seg")))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segments"),
            F.count("kept_seg").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("kept_seg")),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .select(
            F.col("id").alias(id_col), "n_segments", "n_kept", "dedup_text"
        )
    )
