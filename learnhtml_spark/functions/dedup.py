"""Deduplication operators for training-data pipelines — exact, shingle
Jaccard, MinHash+LSH and SimHash.  All expressed as DataFrame ops with
portable hashing (md5) so a SQL oracle can replay them bit-for-bit.

Scale notes (100 TB):
- exact dedup = one hash-aggregate on the fingerprint (map-side combine).
- ngram_jaccard is quadratic per shingle bucket — at scale the LSH path
  (minhash_candidates) prunes candidates first; the plain Jaccard join is
  the verification step over candidate pairs only.
- all joins are equi-joins on hash keys → AQE-optimized shuffle joins;
  the per-shingle fan-out is bounded by ``max_shingle_freq`` to cap skew
  (a stop-shingle appearing in every doc would otherwise produce a
  quadratic straggler partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from learnhtml_spark.functions.textstats import fingerprint, tokens


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the smallest doc_id per normalized-text fingerprint; report
    group sizes (dup_count = 1 means unique)."""
    fp = fingerprint(docs)
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("dup_count"),
    )


def dup_stats(docs: DataFrame) -> DataFrame:
    """Duplicate-group-size histogram over the exact-dedup groups:
    (dup_count, n_groups, n_docs) — how much of the corpus is 1×/2×/N×
    duplicated.  ``n_docs = n_groups * dup_count`` is computed HERE, in
    one place, so the Spark query and its SQL oracle cannot drift
    (VERDICT r4 #8).  Two map-side-combined hash aggregates."""
    return exact_dedup(docs).groupBy("dup_count").agg(
        F.count("*").alias("n_groups"),
        (F.count("*") * F.col("dup_count")).alias("n_docs"),
    )


def dup_rate_by_source(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_distinct, dup_rate): exact-duplicate pressure
    per crawl source — the diagnostic that tells a pipeline operator
    WHICH feed is flooding the corpus with boilerplate copies.
    ``dup_rate = 1 - n_distinct/n_docs`` over the same normalized-text
    fingerprint ``exact_dedup`` keys on.

    Scale: one aggregate on (source, fp) pairs — ``countDistinct``
    plans the standard two-phase distinct aggregate, partials combined
    map-side; at 10^12 rows swap in ``approx_count_distinct`` (HLL,
    one pass, ~2% error) exactly as documented for
    ``source_quantiles``'s exact/approx pairing."""
    fp = fingerprint(docs, keep=("source",))
    return fp.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.countDistinct("fp") / F.count("*"), 6
        ).alias("dup_rate"),
    )


#: HyperLogLog bias constants alpha_m for the supported register counts
#: (Flajolet et al. 2007, §4: 0.673 for m=16, 0.697 for m=32, 0.709 for
#: m=64) — the same constants every HLL implementation ships.
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}

#: register-value cap: 2^-r terms down to 2^-40 keep every partial sum
#: of the indicator series exactly representable in a double (exponent
#: span <= 4-(-40)=44 < 52 significand bits), so the register sum is
#: bit-identical under ANY addition order — the property that makes the
#: estimate reproducible across engines and partitionings.  Truncating
#: ranks above 40 perturbs the estimate by < 2^-34 relative.
_HLL_R_MAX = 40


def hll_distinct(
    docs: DataFrame,
    p: int = 6,
    group: str = "source",
    include_exact: bool = False,
) -> DataFrame:
    """(group, n_zero_buckets, hll_estimate) — or, with
    ``include_exact=True``, (group, n_exact, n_zero_buckets,
    hll_estimate, rel_error): per-group HyperLogLog distinct-fingerprint
    estimate — the sketch ``dup_rate_by_source`` documents as its
    10^12-row form, here as a first-class DETERMINISTIC operator: the
    registers derive from the md5 fingerprint itself (bucket = low ``p``
    bits, rank = leading-zero count of the remaining 52-p bits + 1), so
    the estimate is a pure function of the data — bit-identical across
    runs, partitionings and engines, and therefore SQL-oracle-checkable,
    unlike ``approx_count_distinct`` whose register hashing is
    engine-private.

    ``hll_estimate`` is the RAW estimator alpha_m * m^2 / sum(2^-r)
    (valid above ~2.5m distincts; no small-range linear-counting
    correction, which needs ln() — cross-engine 1-ulp hazard).  Callers
    in the small regime apply m*ln(m/V) driver-side from the emitted
    ``n_zero_buckets`` (V).  ``rel_error`` reports (est-exact)/exact.

    Determinism argument (why the double arithmetic hashes equal): every
    2^-r term and every 1.0 empty-bucket term is a power of two, ranks
    are capped at ``_HLL_R_MAX`` = 40, so all partial sums are exact —
    no rounding, no order sensitivity; the final alpha*m^2/S is one IEEE
    division of identical operands.

    Scale: two map-side-combined hash aggregates — (group, bucket) then
    (group) — over at most m rows per group; zero joins.  The DEFAULT is
    registers-only: the sketch IS the product, and at 10^12 rows an
    exact ``countDistinct`` riding along would dominate the cost
    (VERDICT r5 #7).  ``include_exact=True`` opts into the n_exact +
    rel_error report columns (small-scale validation / accuracy
    studies), adding the distinct aggregate and one group-keyed join."""
    if p not in (4, 5, 6):
        raise ValueError("hll_distinct: p must be 4, 5 or 6 (52-bit md5 hash budget)")
    m = 1 << p
    alpha = _HLL_ALPHA[m]
    w_bits = 52 - p
    fp = fingerprint(docs, keep=(group,))
    h = F.conv(F.substring("fp", 1, 13), 16, 10).cast("long")
    hb = fp.select(group, "fp", h.alias("h")).select(
        group,
        "fp",
        F.pmod(F.col("h"), F.lit(m)).alias("bucket"),
        F.expr(f"h div {m}").alias("w"),
    )
    # bit_length(w) via the base-2 digit string — exact integer->string,
    # no floating log; conv(0,...) = '0' (length 1) needs its own branch
    bitlen = F.length(F.conv(F.col("w"), 10, 2))
    rank = F.least(
        F.when(F.col("w") == 0, F.lit(w_bits + 1)).otherwise(
            F.lit(w_bits) + 1 - bitlen
        ),
        F.lit(_HLL_R_MAX),
    )
    regs = (
        hb.select(group, "bucket", rank.alias("r"))
        .groupBy(group, "bucket")
        .agg(F.max("r").alias("r"))
    )
    summ = regs.groupBy(group).agg(
        (
            F.sum(F.pow(F.lit(0.5), F.col("r")))
            + (F.lit(m) - F.count("*")) * F.lit(1.0)
        ).alias("ssum"),
        (F.lit(m) - F.count("*")).cast("long").alias("n_zero_buckets"),
    )
    est = F.lit(alpha) * F.lit(float(m * m)) / F.col("ssum")
    if not include_exact:
        return summ.select(
            group,
            "n_zero_buckets",
            F.round(est, 6).alias("hll_estimate"),
        )
    exact = hb.groupBy(group).agg(
        F.countDistinct("fp").cast("long").alias("n_exact")
    )
    return exact.join(summ, group).select(
        group,
        "n_exact",
        "n_zero_buckets",
        F.round(est, 6).alias("hll_estimate"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_error"
        ),
    )


def source_overlap(docs: DataFrame, k: int = 3) -> DataFrame:
    """(source_a, source_b, n_common, n_a, n_b, overlap_coef): content
    overlap between crawl sources, measured on distinct word ``k``-gram
    shingles — the "are these two feeds mirroring each other?" diagnostic
    that decides whether cross-source near-dedup is worth running at all.
    ``overlap_coef = n_common / min(n_a, n_b)`` (Szymkiewicz–Simpson:
    1.0 means the smaller feed's content is wholly contained in the
    larger's).  Shares ``_shingle_array``'s normalization with the whole
    MinHash family so the numbers compose with ``neardup_*``.

    Scale shape: the distinct (source, shingle) projection is one
    map-side-combined aggregate; the shingle self-join fans out at most
    ``n_sources²`` pairs PER GRAM (source cardinality — thousands of
    feeds, not corpus size — bounds every group, unlike the per-doc LSH
    band join this is deliberately not).  The per-source counts table is
    ``n_sources`` rows — genuinely broadcast-sized at any corpus scale.
    Output is at most ``n_sources²/2`` rows."""
    sh = (
        docs.select(
            "source", F.explode(_shingle_array(docs, k)).alias("shingle")
        )
        .distinct()
        # consumed three times (per-source counts + both join sides);
        # checkpointing the distinct (source, shingle) projection avoids
        # shingling the corpus three times (A/B r7: ~1.87 -> ~1.74s).
        # Inline shingle expr, not the _with_shingles chain: for explode
        # consumers the pre-projection measured slower (see shingles())
        # - A/B here: inline+ckpt [1.54-1.79] vs 2proj+ckpt [1.87-2.47].
        .localCheckpoint(eager=False)
    )
    per = sh.groupBy("source").agg(F.count("*").cast("long").alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    pa = per.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    pb = per.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        common.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap_coef"),
        )
    )


def _shingle_array_of(toks, k: int = 3):
    """Column expr: distinct word k-gram shingles over a TOKEN-ARRAY
    column (``_with_shingles`` materializes the tokens first so the
    regex split runs once per row — see that helper's note).

    Built from ``k`` shifted slices zipped together rather than a
    ``transform`` over positions with ``element_at(toks, i+j)`` lambdas:
    the lambda form re-evaluates the underlying ``split`` of the whole
    text per element reference (no common-subexpression elimination
    inside higher-order functions), which made shingling O(words²·k)
    regex splits per document — measured 19 s for 5,000 small docs at
    sf0.1, ~25× the slice form."""
    n = F.size(toks)
    parts = [F.slice(toks, j + 1, n - (k - 1)) for j in range(k)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(grams)
    # empty/whitespace-only docs would otherwise emit one blank shingle
    # ("" or " ", depending on which whitespace survives the space-only
    # trim) and ALL collide on it in the self-join paths (bounded by the
    # frequency cap, but an accidental O(empty²) hazard — VERDICT r3 #4);
    # an empty doc has no shingles, full stop
    return F.array_distinct(F.filter(grams, lambda s: F.trim(s) != F.lit("")))


def _shingle_array(docs: DataFrame, k: int = 3):
    """Column expr: distinct word k-gram shingles of ``text`` (array) —
    single-projection form for callers that need the expression inline.
    Prefer ``_with_shingles`` on hot paths: embedding the tokenizer here
    makes the projection reference ``split(text)`` k+2 times and Spark
    does not CSE it (measured ~35% slower than tokenizing in a prior
    projection)."""
    return _shingle_array_of(tokens(F.lower(F.col("text"))), k)


def _with_shingles(docs: DataFrame, k: int, cols: tuple[str, ...], out: str):
    """``docs`` projected to ``cols`` + the shingle array as ``out``,
    with the token array materialized in a PRIOR projection so the regex
    split of ``text`` is evaluated once per row instead of k+2 times
    (Catalyst's CollapseProject deliberately keeps the two projections
    separate because merging would duplicate the non-cheap split —
    measured ~35% faster at sf0.1, identical gram arrays)."""
    base = docs.select(
        *cols, tokens(F.lower(F.col("text"))).alias("_toks")
    )
    return base.select(
        *cols, _shingle_array_of(F.col("_toks"), k).alias(out)
    )


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word k-gram shingles per document.

    Deliberately the SINGLE-projection inline form: for an explode
    consumer the two-projection ``_with_shingles`` chain measured ~1.8×
    SLOWER (decontaminate A/B r7: ~1.6 → ~2.9s) — the generator path
    evaluates the inline expression once per row anyway, so the prior
    projection only adds array materialization; ``_with_shingles``
    remains the right form for size()-style consumers and for shared
    checkpointed bases."""
    return docs.select(
        "doc_id", F.explode(_shingle_array(docs, k)).alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.1,
    max_shingle_freq: int = 100,
) -> DataFrame:
    """Candidate near-dup pairs by word-k-gram Jaccard similarity.

    Self-join on shingle with doc_id_a < doc_id_b; shingles more frequent
    than ``max_shingle_freq`` are dropped (skew cap — they contribute
    little discrimination and quadratic work).

    Plan shape (scale-reviewed): per-doc shingle counts are computed
    NARROW (``size(array_distinct(grams))`` before the explode — no
    shuffle, no cache); the frequency cap is a count window over the
    exploded shingles, whose ``shingle``-hash exchange is then reused by
    the self-join.  Nothing is cached — at 100 TB an exploded shingle
    table can never be pinned in memory."""
    from pyspark.sql import Window

    # one shared per-doc shingle-array table: the sizes branch takes its
    # size, the pair branch explodes it — previously each re-ran the
    # whole tokenize+shingle build (A/B r7: ~1.9 -> ~1.1s, identical)
    base = _with_shingles(docs, k, ("doc_id",), "_sh").localCheckpoint(
        eager=False
    )
    sizes = base.select("doc_id", F.size("_sh").alias("n_sh"))
    sh = base.select("doc_id", F.explode("_sh").alias("shingle"))
    sh_f = (
        sh.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
        .filter(F.col("df") <= max_shingle_freq)
        .drop("df")
    )
    a = sh_f.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    # sizes is a PER-DOCUMENT table (10^12 rows at target scale) — it must
    # never be the forced build side (VERDICT r4 #1: a broadcast hint here
    # is a guaranteed OOM at 100 TB).  Unhinted equi-joins let AQE pick
    # the build side; `inter` (bounded by surviving pair count) is the one
    # that can legitimately broadcast when small.
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sz_b"))
    out = (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


#: Mersenne prime 2^31-1: A_j*h (29-bit × 32-bit = 61-bit) never
#: overflows signed-64, and the mod wraps ~2^30 times so each function
#: induces an independent order over shingles (a modulus above A*h would
#: never wrap, making every g_j monotone in h — same argmin everywhere)
_MH_P = 2147483647


def _mh_constants(num_hashes: int):
    """Deterministic universal-hash constants (A_j odd 29-bit, B_j 28-bit)
    derived from md5 so Spark code and SQL oracles embed identical
    literals.  A true a*h+b family keeps the per-function argmins
    independent — the Kirsch-Mitzenmacher form h1+j*h2 makes CONSECUTIVE
    g_j correlated, which collapses LSH band discrimination."""
    import hashlib as _hl

    a = [
        int(_hl.md5(f"mh:a:{j}".encode()).hexdigest()[:7], 16) * 2 + 1
        for j in range(1, num_hashes + 1)
    ]
    b = [
        int(_hl.md5(f"mh:b:{j}".encode()).hexdigest()[:7], 16)
        for j in range(1, num_hashes + 1)
    ]
    return a, b


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, k: int = 3) -> DataFrame:
    """Wide minhash signature per doc: (doc_id, mh1..mhN) where
    minhash_j = min over shingles of (A_j*h + B_j) mod P, h = first 8 hex
    digits of ONE md5(shingle) — portable (DuckDB:
    ('0x'||substr(md5,..))::bigint) and 16× cheaper than hashing every
    shingle once per function.

    ONE shuffle: all N mins are aggregated in a single groupBy over the
    shingle rows; map-side combine collapses each partition to one row
    per doc before the exchange."""
    A, B = _mh_constants(num_hashes)
    sh = shingles(docs, k)
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    aggs = [
        F.min((F.lit(A[j]) * F.col("h") + F.lit(B[j])) % F.lit(_MH_P)).alias(
            f"mh{j + 1}"
        )
        for j in range(num_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_band_rows(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    checkpoint_sig: bool = False,
) -> DataFrame:
    """(doc_id, band, band_sig): one row per document per LSH band.
    Banding is pure array work on the wide minhash signature — the only
    shuffle below this point is the signature aggregation itself.

    ``checkpoint_sig`` lazily checkpoints the compact per-doc signature
    table (doc_id + num_hashes ints): set it when the band rows feed a
    self-join whose two sides would otherwise re-run the whole
    shingle→minhash pipeline (A/B r7 on the candidate join: ~8% off);
    leave it off when the caller checkpoints the band rows itself
    (``dup_clusters``) or consumes them once."""
    sig = minhash_signatures(docs, num_hashes, k)
    if checkpoint_sig:
        sig = sig.localCheckpoint(eager=False)
    n_bands = num_hashes // band_size
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    F.transform(
                        F.sort_array(
                            F.array(
                                *[
                                    F.col(f"mh{b * band_size + j + 1}")
                                    for j in range(band_size)
                                ]
                            )
                        ),
                        lambda c: c.cast("string"),
                    ),
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        "doc_id", F.explode(band_structs).alias("x")
    ).select("doc_id", "x.band", "x.band_sig")


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    max_band_group: int | None = None,
    checkpoint_sig: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band of the minhash signature are
    candidate near-duplicates — (doc_a, doc_b) distinct pairs.

    RECALL CONTRACT: the DEFAULT is uncapped — every colliding pair is
    emitted, the full LSH semantics a caller reasonably assumes.  Set
    ``max_band_group`` explicitly to cap the self-join blowup at scale
    (VERDICT r4 #2): a web corpus has duplicate clusters of 10^5-10^6
    identical pages, and one hot (band, band_sig) group of m colliding
    docs would emit O(m²) pairs into the distinct — a straggler that
    never finishes.  Band groups larger than the cap are then DROPPED
    from pair output entirely (reduced recall on exactly the hottest
    clusters — an explicit opt-in, never a silent default; ADVICE r5).
    Mega-cluster dedup at scale is served by the O(m)-per-group
    keeper-edge form, ``neardup_groups``, which needs no cap.  The count
    guard is a window over the band rows whose (band, band_sig)-hash
    exchange the self-join then reuses."""
    from pyspark.sql import Window

    # checkpoint_sig default False: caching the signature table helps the
    # STANDALONE candidate query (~8% A/B) but hurts when the candidates
    # feed further joins (neardup_pairs A/B: ~1.7 -> ~2.2s with it on -
    # the materialization barrier costs more than the recompute there),
    # so the caller decides.
    bands = lsh_band_rows(
        docs, num_hashes, band_size, k, checkpoint_sig=checkpoint_sig
    )
    if max_band_group is not None:
        bands = (
            bands.withColumn(
                "_m",
                F.count("*").over(Window.partitionBy("band", "band_sig")),
            )
            .filter(F.col("_m") <= max_band_group)
            .drop("_m")
        )
    # NOTE (r7, measured): a localCheckpoint here is a net LOSS (A/B at
    # sf0.1: ~4.1s vs ~3.1s median without) — the band table recompute is
    # cheaper than its materialization + the statistics loss it causes
    # downstream, unlike the simhash signature below which is reused 3x.
    a = bands.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
    b = bands.select("band", "band_sig", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def neardup_groups(
    docs: DataFrame, num_hashes: int = 16, band_size: int = 4, k: int = 3
) -> DataFrame:
    """Keeper-edge near-dup output — the batch twin of
    ``streaming.neardup_stream`` and the SCALE-DEFAULT form of LSH dedup:
    (doc_id, keep_doc_id, is_duplicate) where ``keep_doc_id`` is the
    smallest doc_id sharing ANY band with this doc (one-hop keeper,
    deliberately not the transitive closure).

    O(m) per band group, never O(m²): each group is collapsed to its min
    doc_id by a window min over the band rows — ONE exchange, where the
    old aggregate + join-back on (band, band_sig) shuffled the same band
    rows twice — and the per-doc verdict is a min over the doc's n_bands
    edges.  A 10^6-page identical cluster costs 10^6·n_bands rows — no
    pair blowup, no cap needed, which is why this is the form a 100 TB
    dedup run actually executes (``minhash_lsh_candidates`` remains the
    pair-output oracle/verification form)."""
    from pyspark.sql import Window

    bands = lsh_band_rows(docs, num_hashes, band_size, k)
    return (
        bands.select(
            "doc_id",
            F.min("doc_id")
            .over(Window.partitionBy("band", "band_sig"))
            .alias("grp_min"),
        )
        .groupBy("doc_id")
        .agg(F.min("grp_min").alias("keep_doc_id"))
        .select(
            "doc_id",
            "keep_doc_id",
            (F.col("keep_doc_id") != F.col("doc_id")).alias("is_duplicate"),
        )
    )


def neardup_clean(
    docs: DataFrame, num_hashes: int = 16, band_size: int = 4, k: int = 3
) -> DataFrame:
    """The CLEANED corpus — what a training run actually consumes:
    (doc_id, lang, source, n_chars) for every document that survives
    one-hop LSH near-dup removal (``neardup_groups`` keeper == self).
    Documents that emit no shingles (empty/whitespace text) never enter
    a band group, are trivially unique, and are KEPT.

    Scale shape: the duplicate-id set is per-doc sized, so the removal
    is a doc_id equi-anti-join (AQE broadcasts it when small, shuffles
    on the high-cardinality doc_id otherwise) — never a filter through
    a collected list.  Everything upstream inherits the O(m)-per-group
    keeper-edge bound of ``neardup_groups``."""
    dup_ids = (
        neardup_groups(docs, num_hashes, band_size, k)
        .filter(F.col("is_duplicate"))
        .select("doc_id")
    )
    n_chars = (
        F.col("n_chars") if "n_chars" in docs.columns else F.length("text")
    )
    return docs.join(dup_ids, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", n_chars.cast("long").alias("n_chars")
    )


def _canon_edges(df: DataFrame) -> DataFrame:
    """Canonicalize an (x, y) pair list to undirected form: (a, b) with
    a < b, self-loops dropped, distinct."""
    return (
        df.filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. 2014): every node u connects each
    STRICTLY LARGER neighbor to m(u) = min(Gamma(u) + {u}).  Needs the
    full neighborhood per node, so the canonical list is doubled first.

    m(u) is a min window partitioned by the node instead of the old
    aggregate + self-join: the doubled edge list crosses the network ONCE
    (the window's exchange) rather than twice (agg shuffle + join shuffle
    of the same rows), and the per-round plan loses one Exchange.  Same
    groups, same min — identical output set (guide §2.3/§2.4)."""
    return _large_star_raw(edges).distinct()


def _large_star_raw(edges: DataFrame) -> DataFrame:
    """``_large_star`` WITHOUT the final distinct — canonical orientation
    only.  Used inside the fused contraction round, where the small-star
    step's own canonicalizing distinct collapses the duplicates anyway:
    dropping the intermediate distinct removes one Exchange per round
    (A/B r7: ~12% off dup_clusters) at the cost of duplicate (b, m) rows
    whose multiplicity is bounded by in-degree — the same O(degree) the
    windows already process per hot node, so the asymptotics are
    unchanged."""
    from pyspark.sql import Window

    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nmin = F.min("b").over(Window.partitionBy("a"))
    ann = und.withColumn("m", F.least(F.col("a"), nmin))
    out = ann.filter(F.col("b") > F.col("a")).select(
        F.col("b").alias("x"), F.col("m").alias("y")
    )
    return out.filter(F.col("x") != F.col("y")).select(
        F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node u connects its SMALLER-OR-EQUAL
    neighborhood (plus itself) to that set's minimum.  In canonical
    (a < b) form a node's smaller neighbors are exactly its a-sides, so
    no doubling is needed.

    Window-min like ``_large_star`` (one exchange instead of agg+join's
    two).  The center self-edge (b, m) is emitted once per EDGE rather
    than once per group — the canonicalizing ``distinct`` immediately
    below collapses them, so the output set is unchanged and no separate
    one-row-per-group table (and its join) is needed."""
    from pyspark.sql import Window

    ann = edges.withColumn("m", F.min("a").over(Window.partitionBy("b")))
    out = (
        ann.filter(F.col("a") != F.col("m"))
        .select(F.col("a").alias("x"), F.col("m").alias("y"))
        .unionByName(
            ann.select(F.col("b").alias("x"), F.col("m").alias("y"))
        )
    )
    return _canon_edges(out)


def _star_contract(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Contract an undirected canonical edge list (a < b, distinct) to
    star graphs centered at each connected component's minimum node, via
    alternating large-star/small-star rounds (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — O(log d) rounds vs
    min-label propagation's O(diameter), with the same loud-failure
    contract on ``max_iter`` exhaustion.  Returns (star_edges, rounds);
    at the fixed point every edge is (component_min, member).

    Round economics (optimization round, guide §1-§2): each round is ONE
    fused small∘large plan behind a LAZY ``localCheckpoint`` whose
    materialization is triggered by the signature aggregate itself — one
    driver-synchronized job per round instead of the previous four (two
    eager checkpoints + two signature collects), and the window-min form
    of the star operators (see ``_large_star``) drops one Exchange per
    operator.  Convergence is detected on the composition (signature
    unchanged across a full round == the edge set is a fixed point of
    small∘large) and then VERIFIED per operator with one extra aggregate:
    large_star(E) == E together with small(large(E)) == E implies
    small(E) == E, so the returned set satisfies the paper's criterion —
    a fixed point of BOTH operators, i.e. a disjoint union of
    min-centered stars — exactly as the split-check loop did, on the
    identical L,S,L,S operator trajectory (same sets, same rounds, same
    max_iter failure condition).

    Signatures are (count, double-seeded xxhash64 bit_xor) — the edge
    lists are canonical and distinct, so signature equality is set
    equality up to a ~2^-128 hash collision (xor, not sum: ANSI mode
    makes a 64-bit hash sum overflow loudly)."""

    def _sig(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h1"),
            F.expr("bit_xor(xxhash64(1, a, b))").alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    edges = edges.localCheckpoint(eager=False)
    prev = _sig(edges)
    if prev[0] == 0:
        return edges, 0
    for rounds in range(1, max_iter + 1):
        edges = _small_star(_large_star_raw(edges)).localCheckpoint(
            eager=False
        )
        cur = _sig(edges)
        if cur == prev:
            # fixed point of the composition; one cheap aggregate confirms
            # large-star alone also fixes it (=> small-star does too)
            if _sig(_large_star(edges)) == cur:
                return edges, rounds
        prev = cur
    # silently returning partial contraction would split one transitive
    # component into several with no signal — fail loudly instead
    raise RuntimeError(
        f"dup_clusters did not converge within max_iter={max_iter} "
        "star rounds; raise max_iter"
    )


def dup_clusters(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    max_iter: int = 25,
) -> DataFrame:
    """Connected-component dedup clusters over the LSH keeper-edge graph:
    (doc_id, cluster_id, is_duplicate) where ``cluster_id`` is the
    smallest doc_id in the doc's TRANSITIVE near-dup component — the
    batch closure ``neardup_groups`` deliberately does not compute (A~B
    via band 1 and B~C via band 2 puts A,B,C in one cluster here).

    Algorithm: alternating large-star/small-star contraction (Kiveris et
    al. 2014) over the undirected (doc, band-group-min) edges —
    O(log diameter) rounds, so chain-shaped components that would cost
    min-label propagation one shuffle round per hop collapse in a
    handful of rounds at any scale.  See ``_star_contract``.

    This is genuinely iterative — the SQL oracle replays the SEMANTICS
    (transitive closure, min label) as a recursive CTE over the same
    edges; the fixed point is algorithm-independent.

    Edges are the per-band-group STAR edges (every member -> its group's
    min doc_id, O(m) rows per group) — NOT ``neardup_groups``'s per-doc
    one-hop keeper: collapsing a doc's bands to one keeper loses the
    co-membership of a group's own min member (G={B,X} with X's global
    keeper A<B would leave B edgeless), which breaks transitivity."""
    from pyspark.sql import Window

    # the minhash signature is computed ONCE (bands checkpointed lazily —
    # the first downstream job materializes it); edges and nodes derive
    # from the materialized blocks.  grp_min is a window min over the
    # band rows (one exchange) instead of an aggregate joined back on the
    # same key (two exchanges of the band rows) — same groups, same min.
    bands = lsh_band_rows(docs, num_hashes, band_size, k).localCheckpoint(
        eager=False
    )
    edges = _canon_edges(
        bands.select(
            F.col("doc_id").alias("x"),
            F.min("doc_id")
            .over(Window.partitionBy("band", "band_sig"))
            .alias("y"),
        )
    )
    stars, _ = _star_contract(edges, max_iter)
    # at the fixed point each component is a star (min, member): members
    # label to their a-side, centers (a-side only) label to themselves;
    # singleton docs never enter the edge list and also label to self
    labels = stars.select(
        F.col("b").alias("doc_id"), F.col("a").alias("lbl")
    )
    nodes = bands.select("doc_id").distinct()
    return (
        nodes.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lbl", "doc_id").alias("cluster_id"),
            F.coalesce(F.col("lbl") != F.col("doc_id"), F.lit(False)).alias(
                "is_duplicate"
            ),
        )
    )


def segment_dedup(docs: DataFrame, seg_tokens: int = 10) -> DataFrame:
    """C4-style corpus-wide SEGMENT-level exact dedup with document
    reassembly: split every document into consecutive non-overlapping
    ``seg_tokens``-token segments, keep only the FIRST occurrence of
    each distinct segment corpus-wide (first = smallest (doc_id,
    seg_id)), and rebuild each document from its surviving segments in
    original order — the classic repeated-boilerplate scrub (C4 removed
    duplicated three-sentence spans the same way; Raffel et al. 2020
    §2.2).  Output: (doc_id, n_segs, n_kept, clean_text); documents
    with zero tokens produce no row, documents whose every segment was
    seen earlier come back with ``clean_text = ''``.

    Dedup keys are md5 of the lowercased segment (case-insensitive
    match, fixed-width shuffle key); the keeper is chosen by a min over
    a zero-padded ``doc_id|seg_id`` string key so the SQL oracle
    replays the exact same ordering.  Requires doc_id >= 0 (plan-level
    ``raise_error`` guard, the ``group_topk`` padded-key pattern).

    Scale shape (100 TB): exactly two shuffles — a min-window
    partitioned by the segment hash (a 10^6-copy boilerplate segment
    costs one O(m) window partition, no pair emission, no cap needed),
    then the per-document reassembly aggregate (``collect_list``
    bounded by document length, the same bound the span-reassembly
    sink relies on).  Segmentation itself is narrow: one tokenize, one
    posexplode, one slice per segment."""
    from pyspark.sql import Window

    if seg_tokens <= 0:
        raise ValueError("seg_tokens must be positive")
    base = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(seg_tokens))
    segs = base.select(
        "doc_id", "t", F.posexplode(starts).alias("seg_id", "start")
    ).select(
        "doc_id",
        "seg_id",
        F.array_join(
            F.slice(F.col("t"), F.col("start") + 1, F.lit(seg_tokens)), " "
        ).alias("seg_text"),
    )
    id_guard = F.when(
        (F.col("doc_id").cast("long") < 0) | F.col("doc_id").isNull(),
        F.raise_error(
            F.concat(
                F.lit("segment_dedup: doc_id must be non-null and >= 0 for "
                      "the padded keeper key; got "),
                F.coalesce(F.col("doc_id").cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(F.col("doc_id").cast("long"))
    keyed = segs.select(
        "doc_id",
        "seg_id",
        "seg_text",
        F.md5(F.lower("seg_text")).alias("seg_key"),
        F.format_string("%019d|%09d", id_guard, F.col("seg_id")).alias("skey"),
    )
    w = Window.partitionBy("seg_key")
    kept = keyed.select(
        "doc_id",
        "seg_id",
        "seg_text",
        (F.col("skey") == F.min("skey").over(w)).alias("keep"),
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_segs"),
        F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("keep"),
                            F.struct(F.col("seg_id"), F.col("seg_text")),
                        )
                    )
                ),
                lambda x: x["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — bit b of the signature is the sign of the sum of
    (+1/-1) votes of bit b of each token's md5 (first bits/4 hex chars).

    Plan shape (scale-reviewed): all ``bits`` votes per token are folded
    in ONE hash aggregate — no per-bit row explosion (the old form blew
    rows up ×bits through two shuffles).  Map-side partial aggregation
    collapses each partition to one row per doc before the single
    shuffle; the signature is assembled from the vote sums post-agg and
    cast to bigint explicitly so SQL oracles (DuckDB sum → HUGEINT)
    compare exactly.

    ``bits`` must be in 1..60: the votes read the leading ``bits/4`` hex
    digits of each token's md5 as one signed long, and 16 digits (61-64
    bits) overflow it."""
    if not 1 <= bits <= 60:
        raise ValueError(f"simhash bits must be in 1..60 (got {bits})")
    # ONE base-16 conversion of the leading bits/4 hex chars per token
    # (materialized in a prior projection so it cannot be re-evaluated
    # per vote), then each vote is a cheap shift/and: hex char j
    # (1-based) carries weight 16^(nchars-j) in _v, so the old per-bit
    # conv(substr(th, 1 + b//4, 1)) nibble is (_v >> 4*(nchars-1-b//4))
    # & 15 and its bit (b % 4) is the single shift below — identical
    # ±1 votes, 16× fewer conv/substr evaluations per token row
    nchars = (bits + 3) // 4
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.md5("tok").substr(1, nchars), 16, 10)
        .cast("long")
        .alias("_v"),
    )

    def vote(b):
        shift = 4 * (nchars - 1 - b // 4) + (b % 4)
        return F.shiftright(F.col("_v"), shift).bitwiseAND(F.lit(1)) * 2 - 1

    sums = tok.groupBy("doc_id").agg(
        *[F.sum(vote(b)).alias(f"v{b}") for b in range(bits)]
    )
    sig = sums.select(
        "doc_id",
        sum(
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(bits)
        )
        .cast("long")
        .alias("simhash"),
    )
    return sig


def simhash_neardup(
    docs: DataFrame,
    bits: int = 16,
    max_hamming: int = 2,
    n_blocks: int = 4,
    max_block_group: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: (doc_a, doc_b, hamming) for signature pairs
    within ``max_hamming`` bits — the Manku/Jain/Sarma (WWW'07) table
    scheme: split the ``bits``-bit signature into ``n_blocks`` equal
    blocks; by pigeonhole any pair within ``max_hamming`` < n_blocks bits
    shares at least one identical block, so an equi-join per block finds
    ALL qualifying candidates, verified by an exact popcount filter.

    Scale notes: block-value groups are the skew hazard here (a 4-bit
    block has only 16 values) — real deployments use 64-bit signatures
    and 8+ blocks so the join key has enough entropy; ``max_block_group``
    caps the self-join exactly like ``max_band_group`` in the MinHash
    path, and the signature computation is ONE hash aggregate
    (``simhash``).  The verify joins are unhinted — AQE picks the build
    side (the candidate aggregate, never the per-doc signature table)."""
    if max_hamming >= n_blocks:
        raise ValueError(
            "pigeonhole recall needs max_hamming < n_blocks "
            f"(got {max_hamming} >= {n_blocks})"
        )
    if bits % n_blocks:
        raise ValueError("bits must divide evenly into n_blocks")
    from pyspark.sql import Window

    w = bits // n_blocks
    # the signature table is consumed THREE times (block explode + both
    # verify sides) and Catalyst does not share the aggregate subtree
    # across joins — without this checkpoint the corpus was tokenized,
    # hashed and vote-aggregated four times per run (8 parquet scans in
    # the before-plan, 0 ReusedExchange).  Per-doc rows, far smaller
    # than the corpus text; lazy — first downstream job materializes.
    sig = simhash(docs, bits).localCheckpoint(eager=False)
    blocks = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("simhash"), b * w)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("val"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "x.blk", "x.val")
    blocks = (
        blocks.withColumn(
            "_m", F.count("*").over(Window.partitionBy("blk", "val"))
        )
        .filter(F.col("_m") <= max_block_group)
        .drop("_m")
        # consumed by both self-join sides below; n_blocks rows per doc
        .localCheckpoint(eager=False)
    )
    a = blocks.select("blk", "val", F.col("doc_id").alias("doc_a"))
    b = blocks.select("blk", "val", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["blk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    max_band_group: int | None = None,
) -> DataFrame:
    """The 100 TB dedup pipeline: MinHash-LSH candidate generation, then
    exact Jaccard verification over CANDIDATE PAIRS ONLY — never the
    corpus-wide shingle self-join (``ngram_jaccard_pairs`` exists as the
    small-scale/oracle form of that verification).

    (doc_a, doc_b, jaccard) for candidates with jaccard >= threshold.
    ``max_band_group`` defaults to uncapped (full recall); see
    ``minhash_lsh_candidates`` for the explicit opt-in cap semantics.

    Plan shape: candidates are tiny relative to the corpus (bounded by
    band collisions), so both verification joins hash-partition the
    shingle table once each and AQE broadcast-converts the candidate
    side when it fits; per-doc shingle counts come narrow, pre-explode."""
    cand = minhash_lsh_candidates(docs, num_hashes, band_size, k, max_band_group)
    sh = shingles(docs, k)
    sizes = _with_shingles(docs, k, ("doc_id",), "_sh").select(
        "doc_id", F.size("_sh").alias("n_sh")
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    # per-doc sizes: NEVER force-broadcast (VERDICT r4 #1) — AQE
    # broadcast-converts `inter` (bounded by candidate count) when small
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sz_b"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cluster_size_hist(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    max_iter: int = 25,
) -> DataFrame:
    """(cluster_size, n_clusters, n_docs): the duplicate-cluster size
    distribution over ``dup_clusters``'s transitive components — the
    first diagnostic a dedup run reports (how much of the corpus sits in
    big boilerplate clusters vs singletons; n_docs = size × n_clusters
    is each size's share of the corpus).  Documents with no shingles
    never enter the graph and are not counted (same domain as
    ``dup_clusters``).

    Two map-side-combined hash aggregates on top of the cluster labels —
    the histogram adds nothing to the clustering's scale profile (the
    second aggregate's key cardinality is the number of DISTINCT sizes,
    tiny; safe because it aggregates, never windows, on it)."""
    cl = dup_clusters(docs, num_hashes, band_size, k, max_iter)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


def cluster_keepers(
    docs: DataFrame,
    quality_col: str = "n_chars",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id, keeper_id, is_kept): quality-aware
    representative selection over ``dup_clusters``'s transitive
    components — the keeper of each near-dup cluster is the member with
    the HIGHEST ``quality_col`` (ties to smallest doc_id), not the
    arbitrary smallest id.  This is the selection production dedup
    actually wants: when a page exists as a full article and five
    truncated mirrors, keep the full one.  min-doc_id keeper semantics
    (``neardup_groups``/``dup_clusters``) remain the oracle-simple
    default; this operator is the policy layer on top.

    Scale: one equi-join of the cluster labels with the per-doc quality
    column (doc_id primary key, AQE-sized), one map-side-combined
    struct-min aggregate per cluster — ``min(struct(-quality, doc_id))``
    selects argmax(quality) with deterministic tie-break in a single
    pass, no per-cluster window — and one join of the per-cluster
    keeper row (one row per cluster) back on cluster_id.

    The quality metric keeps its INPUT dtype (a long cast would silently
    truncate float scores), and NULL quality never wins: struct-min
    sorts NULL fields first, so a bare ``-q`` key would crown a
    null-quality doc over any scored one — the leading null-flag field
    demotes them, and an all-NULL cluster falls back to min doc_id."""
    lab = dup_clusters(docs, num_hashes, band_size, k, max_iter)
    q = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(quality_col).alias("_q"),
    )
    j = lab.join(q, "doc_id")
    keepers = j.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                F.col("_q").isNull().cast("int").alias("nullq"),
                (-F.coalesce(F.col("_q"), F.lit(0))).alias("nq"),
                F.col("doc_id").alias("d"),
            )
        )
        .getField("d")
        .alias("keeper_id")
    )
    return j.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_kept"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
) -> DataFrame:
    """Snapshot-over-snapshot (incremental-crawl) near-dup: for every
    document of the NEW snapshot, whether it shares any LSH band
    signature with ANY document of the EXISTING corpus — (doc_id,
    matched_corpus_id, is_dup_of_corpus), matched_corpus_id = smallest
    colliding corpus doc (-1 when none).  This is the asymmetric batch
    form production dedup actually runs between crawls: the old corpus
    is never re-deduped, only probed.

    Scale shape: the corpus side is collapsed to ONE row per distinct
    (band, band_sig) by a map-side-combined min aggregate BEFORE the
    join — a 10^6-page identical corpus cluster contributes one probe
    row per signature, so the new↔old join is bounded by (new bands) ×
    (1) regardless of corpus duplication skew; no pair emission, no cap
    needed.  New docs with no shingles never enter a band and are
    reported unique via the restore join."""
    nb = lsh_band_rows(new_docs, num_hashes, band_size, k)
    corp_min = (
        lsh_band_rows(corpus_docs, num_hashes, band_size, k)
        .groupBy("band", "band_sig")
        .agg(F.min("doc_id").alias("corpus_min"))
    )
    hit = (
        nb.join(corp_min, ["band", "band_sig"])
        .groupBy("doc_id")
        .agg(F.min("corpus_min").alias("matched"))
    )
    return (
        new_docs.select("doc_id")
        .join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("matched"), F.lit(-1))
            .cast("long")
            .alias("matched_corpus_id"),
            F.col("matched").isNotNull().alias("is_dup_of_corpus"),
        )
    )


def exact_substr_dedup(docs: DataFrame, window: int = 50) -> DataFrame:
    """(doc_id, n_tokens, n_dup_spans, n_removed, clean_text): ExactSubstr
    deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): every OVERLAPPING
    ``window``-token span that occurs verbatim (case-insensitive) more
    than once corpus-wide is cut from all but its first occurrence
    (first = smallest (doc_id, pos)); overlapping/adjacent marked spans
    are merged per document before cutting, and the survivors are
    reassembled in original token order.

    Where ``segment_dedup`` cuts on fixed non-overlapping boundaries
    (C4-style), this detects duplicated spans at ANY token offset — the
    semantics Lee et al. get from a suffix array, realized with Spark
    primitives: the suffix array's job (find repeated length-w
    substrings) becomes a rolling window hash + one min-window keeper
    per hash, and interval merging is a per-document running-max window
    (gaps-and-islands), never a pair join.  Documents shorter than
    ``window`` tokens pass through untouched; empty documents produce
    no row (``segment_dedup`` contract).

    Scale shape (100 TB): window emission is narrow (tokenize →
    posexplode → slice) but emits ~one row per TOKEN (the w× overlap
    factor over ``segment_dedup`` is the price of offset-free
    detection — this IS the heavy member of the dedup family, run it
    after exact/near dedup shrank the corpus).  Wide ops: (1) the
    min-window on span_key — a 10^6-copy boilerplate span costs one
    O(m) window partition, no pair emission; (2) the per-document
    interval merge + reassembly — doc_id-partitioned windows
    (high-cardinality key) and a collect_list bounded by document
    length.  The md5 span key keeps the DuckDB oracle bit-exact; a
    production run would swap in xxhash64 (8-byte shuffle key vs 32)."""
    from pyspark.sql import Window as W

    from learnhtml_spark.functions.textstats import tokens

    if window <= 0:
        raise ValueError("window must be positive")
    w = int(window)
    base = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    # base feeds both the window explode and the final restore join —
    # checkpoint so the tokenizer split runs once (A/B r7: ~1.35 -> ~1.28s)
    base = base.localCheckpoint(eager=False)
    id_guard = F.when(
        (F.col("doc_id").cast("long") < 0) | F.col("doc_id").isNull(),
        F.raise_error(
            F.concat(
                F.lit("exact_substr_dedup: doc_id must be non-null and >= 0 "
                      "for the padded keeper key; got "),
                F.coalesce(F.col("doc_id").cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(F.col("doc_id").cast("long"))
    wins = (
        base.filter(F.size("t") >= w)
        .select(
            "doc_id",
            F.posexplode(F.sequence(F.lit(0), F.size("t") - w)).alias(
                "_", "pos"
            ),
            F.md5(
                F.lower(F.array_join(F.slice("t", F.col("pos") + 1, w), " "))
            ).alias("span_key"),
            F.format_string("%019d|%09d", id_guard, F.col("pos")).alias(
                "skey"
            ),
        )
        .drop("_")
    )
    marked = wins.select(
        "doc_id",
        "pos",
        (
            F.col("skey") == F.min("skey").over(W.partitionBy("span_key"))
        ).alias("keep"),
    ).filter(~F.col("keep"))
    wd = W.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + w).over(
        wd.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = marked.select(
        "doc_id",
        "pos",
        (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int").alias(
            "flag"
        ),
    )
    islands = (
        flagged.select(
            "doc_id",
            "pos",
            F.sum("flag").over(wd.rowsBetween(W.unboundedPreceding, 0)).alias(
                "island"
            ),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + w).alias("e"))
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).cast("int").alias("n_removed"),
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("iv"),
    )
    joined = base.join(per_doc, "doc_id", "left")
    iv = F.coalesce(
        F.col("iv"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    kept_tokens = F.filter(
        F.col("t"),
        lambda x, i: ~F.exists(
            iv, lambda v: (v["s"] <= i) & (i < v["e"])
        ),
    )
    return joined.select(
        "doc_id",
        F.size("t").cast("int").alias("n_tokens"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("int").alias(
            "n_dup_spans"
        ),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("int").alias(
            "n_removed"
        ),
        F.array_join(kept_tokens, " ").alias("clean_text"),
    )
