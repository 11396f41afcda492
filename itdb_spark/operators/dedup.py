"""Deduplication operators for the training-data pipeline: exact
(hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
SimHash, and n-gram Jaccard verification.

The reference's dedup is fingerprint grouping over a bounded content sample
(sha256 of the last 100 KB, dupes/dedup.py:42,:127-143) plus a fuzzy
filename self-join (dupes/dedup.py:146-171); these operators are the same
two ideas generalized to web-corpus scale: cheap candidate generation with
a bounded number of shuffles, then exact verification only on candidates.

All hashing uses ``portable_hash64`` (md5-prefix → int64) so the DuckDB
oracle reproduces every bucket assignment bit-for-bit. At pure-Spark scale
swap in ``xxhash64`` — same structure, cheaper hash.

Scale notes (100 TB):
* exact_dup_groups: one shuffle on the fingerprint; fingerprints are
  near-unique so no skew.
* minhash: explode(tokens) is the big intermediate — size ≈ corpus token
  count; the groupBy(doc) computes all NUM_PERM mins in one map-side
  partial agg, so the shuffle carries one row per (doc, NUM_PERM) not per
  token. Band-bucket join shuffles doc_ids only (no text).
* verification joins carry only candidate pairs — the quadratic blowup is
  confined to hash buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from itdb_spark.functions.core import HASH_PRIME, portable_hash64

NUM_PERM = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERM // NUM_BANDS


def _perm_coeffs(j: int) -> tuple[int, int]:
    """Deterministic permutation coefficients (odd multiplier, offset)."""
    return 2 * j + 1, 101 * j + 17


def tokens_distinct(text: Column) -> Column:
    """Distinct whitespace tokens of the lowercased text (the shingle set)."""
    return F.array_distinct(F.split(F.trim(F.lower(text)), r"\s+"))


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the MinHash/Jaccard unit. Word
    n-grams (not unigrams) keep shingle space large enough that unrelated
    documents rarely collide. Pure higher-order expressions; the token
    array is bound ONCE via a single-element transform (a naive inline
    `split(...)` inside the lambda re-tokenizes per element → O(tokens²)),
    and short docs collapse to one whole-text shingle (Spark's sequence()
    runs descending when stop < start, so it needs the guard)."""
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(n))
    return F.expr(
        f"flatten(transform(array(split(trim(lower({text_col})), '\\\\s+')), toks -> "
        f"CASE WHEN size(toks) < {n} THEN array(array_join(toks, ' ')) "
        f"ELSE array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))) END))"
    )


def exact_dup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: full-content hash → groups with >1 member.
    One shuffle; group key is the 128-bit md5 so collisions ≈ 0."""
    return (
        docs.select(F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("cnt"), F.min("doc").alias("keep_doc"), F.max("doc").alias("max_doc"))
        .where(F.col("cnt") > 1)
    )


def shingle_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, w) exploded word-3-gram shingle frame — the shared input of
    MinHash signatures and exact Jaccard verification. Build it ONCE and
    cache when both stages run in the same pipeline (dedup-jaccard,
    pipe-curate): the explode is the dominant intermediate (≈ corpus token
    count) and recomputing it per stage doubles the heaviest scan."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col)).alias("w"),
    )


def shingle_set_col(text_col: str) -> Column:
    """Per-document sorted xxhash64 shingle-set ARRAY, built IN-ROW —
    the zero-shuffle twin of ``shingle_frame(...).select(doc,
    xxhash64(w)).groupBy(doc).agg(sort_array(collect_list(w)))`` that
    every containment build used to run (r15, guide §2.4: the explode
    fans each doc's shingles out only for the groupBy(doc) exchange to
    collect them straight back — partial aggregation meant the shuffle
    already carried one array row per doc, so the exchange bought
    nothing; a higher-order transform builds the same array inside the
    scan stage). Row-identical to the explode→groupBy form by
    construction: ``word_shingles`` is already per-row distinct,
    ``transform`` preserves elements (xxhash64 collisions included),
    and ``sort_array`` fixes the order ``collect_list`` left
    unspecified. The ONE divergence is NULL text: explode drops the
    doc, in-row yields a NULL array — callers filter NULL text out
    (doc_shingle_sets does) to keep the forms exactly equal.
    Equality is pinned on the real corpus + a NULL/empty-text edge
    frame in tests/test_wave15.py."""
    return F.sort_array(
        F.transform(word_shingles(text_col), lambda g: F.xxhash64(g))
    )


def doc_shingle_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, ts) distinct-shingle-set frame for the containment family:
    one in-row projection, no explode, no exchange (see
    ``shingle_set_col``). The NULL guard filters on the TEXT column,
    not on ts: ts is NULL iff text is NULL (split/trim/lower/transform
    all propagate NULL and nothing else in the chain produces one), a
    Filter on ts would re-evaluate the whole tokenize+hash+sort
    expression per row (Filter and Project don't share subexpressions),
    and IsNotNull(text) pushes down to the parquet scan."""
    return docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), shingle_set_col(text_col).alias("ts")
    )


def _shingle_hash(hash_fn: str) -> "Callable[[Column], Column]":
    """Shingle hash choice: ``portable`` (md5-prefix — DuckDB reproduces
    every bucket bit-for-bit; the oracle-gate default) or ``xxhash64``
    (JVM-native, measured ~24% faster on the sf0.1 signature stage — the
    deploy choice when no cross-engine differential is needed; bucket
    assignments differ from portable but the LSH statistics are
    identical, recall-gated in test_scale_paths)."""
    if hash_fn == "portable":
        return portable_hash64
    if hash_fn == "xxhash64":
        return lambda c: F.abs(F.xxhash64(c))
    raise ValueError(f"unknown hash_fn: {hash_fn!r} (portable | xxhash64)")


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = NUM_PERM,
    shingles: DataFrame | None = None,
    hash_fn: str = "portable",
) -> DataFrame:
    """(doc, m0..m{num_perm-1}) MinHash signature over word-3-gram shingles.

    explode(shingle set) → shingle hash (see ``_shingle_hash``) →
    ``num_perm`` min-aggregations in a single groupBy (one shuffle;
    map-side combine keeps the shuffle at one row per doc per
    partition). Pass a pre-built ``shingles`` frame (``shingle_frame``)
    to share the explode with other consumers."""
    words = shingles if shingles is not None else shingle_frame(docs, id_col, text_col)
    h = _shingle_hash(hash_fn)
    hashed = words.select("doc", (h(F.col("w")) % HASH_PRIME).alias("h"))
    aggs = []
    for j in range(num_perm):
        a, b = _perm_coeffs(j)
        aggs.append(F.min((F.col("h") * a + b) % HASH_PRIME).alias(f"m{j}"))
    return hashed.groupBy("doc").agg(*aggs)


def minhash_bands(signatures: DataFrame, num_bands: int = NUM_BANDS) -> DataFrame:
    """Signature → (doc, band, band_hash): concatenate each band's rows into
    a string key. Banding trades precision for recall: P(candidate) =
    1-(1-s^r)^b for Jaccard s.

    The band width is derived from the signature frame's actual m* columns
    (NOT the module-global NUM_PERM) so callers that built signatures with a
    different num_perm band the full signature rather than a silent prefix."""
    m_cols = sorted(
        (c for c in signatures.columns if c.startswith("m") and c[1:].isdigit()),
        key=lambda c: int(c[1:]),
    )
    num_perm = len(m_cols)
    if num_perm % num_bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by num_bands={num_bands}")
    per_band = num_perm // num_bands
    structs = []
    for b in range(num_bands):
        cols = [F.col(f"m{b * per_band + r}").cast("string") for r in range(per_band)]
        structs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("band_hash"))
        )
    return signatures.select(
        "doc", F.explode(F.array(*structs)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def band_structs(
    text_col: str, num_perm: int = NUM_PERM, num_bands: int = NUM_BANDS
) -> Column:
    """array<struct<band,band_hash>> LSH band keys computed NARROWLY per
    row: text → distinct word-3-gram shingles → portable hashes → per-band
    concat of the band's permutation minima — one higher-order expression,
    NO explode and NO signature groupBy shuffle. The shingle and hashed
    arrays are each bound once via a single-element transform so the md5
    work runs once per shingle, not once per permutation.

    MEASURED trade-off (sf0.1, local[32], min-of-5): this form is ~2×
    slower than the exploded ``minhash_signatures`` + groupBy path (1.06 s
    vs 0.53 s for the band table) — higher-order lambdas evaluate
    interpreted per element, while the exploded path's 16 partial_min
    aggregations run in whole-stage codegen and win despite paying a
    shuffle of the exploded shingle table. ``minhash_candidates`` therefore
    registers the exploded path; equivalence of the two is pinned by
    test_band_structs_matches_exploded_signature_path. Revisit if Spark
    gains codegen for HOF lambdas, or on clusters where shuffle IO (not
    CPU) is the binding constraint."""
    if num_perm % num_bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by num_bands={num_bands}")
    per_band = num_perm // num_bands

    def hash_one(s: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % HASH_PRIME
        )

    def perm_min(hs: Column, j: Column) -> Column:
        a = j * 2 + F.lit(1)
        b = j * 101 + F.lit(17)
        return F.array_min(F.transform(hs, lambda h: (h * a + b) % HASH_PRIME))

    def bands_of(hs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda band: F.struct(
                band.cast("int").alias("band"),
                F.concat_ws(
                    "_",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(per_band - 1)),
                        lambda r: perm_min(hs, band * per_band + r).cast("string"),
                    ),
                ).alias("band_hash"),
            ),
        )

    bound = F.transform(
        F.array(word_shingles(text_col)),
        lambda sh: F.transform(
            F.array(F.transform(sh, hash_one)),
            bands_of,
        ),
    )
    return bound[0][0]


def minhash_candidates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = NUM_PERM,
    max_bucket: int | None = None,
    shingles: DataFrame | None = None,
    distinct_pairs: bool = True,
    bands: DataFrame | None = None,
    hash_fn: str = "portable",
) -> DataFrame:
    """Candidate near-duplicate pairs (id1 < id2) from LSH band buckets.

    ``distinct_pairs=False`` skips the final pair-level distinct (a full
    shuffle of the pair table): a pair colliding in k bands appears k
    times. Correct for duplicate-insensitive consumers — connected
    components' min-label propagation, EXISTS-style membership — and one
    shuffle cheaper; keep the default for anything that counts or verifies
    pairs.

    Band table: exploded shingles → codegen'd 16-min groupBy (one shuffle;
    measured faster than the narrow ``band_structs`` HOF form — see its
    docstring). Pair generation is ONE further shuffle: groupBy (band,
    band_hash) collects each bucket's doc ids and in-bucket pairs come
    from an array comprehension (transform × slice over the sorted id
    array — JVM-side, no Python), followed by a pair-level distinct. A
    band-table self-join would shuffle the table twice (or broadcast one
    side, recomputing the signature pipeline) and need a cache to avoid
    double compute; the groupBy form needs neither, so nothing is left
    resident after the action. Pass ``shingles`` (a cached
    ``shingle_frame``) to share the explode with other consumers.

    ``max_bucket`` caps hot buckets (boilerplate/template corpora where one
    band hash collects thousands of docs — each contributes O(size²) pairs).
    Buckets above the cap are dropped from pair generation; at 100 TB route
    them to a template-cluster side channel instead of the pairwise path
    (SCALE.md "hot buckets"). The cap is enforced BEFORE collect_list via a
    window count over the same (band, band_hash) keys: the count shares the
    groupBy's exchange (no extra shuffle) and drops hot-bucket ROWS, so a
    pathological bucket never materializes its id array in an aggregation
    buffer — the cap genuinely bounds array memory to max_bucket ids.
    Over-cap docs are not lost: ``minhash_template_channel`` re-emits them
    as template clusters (pass the same cached ``bands`` frame to share
    the banding pass between both outputs)."""
    if bands is None:
        bands = minhash_bands(
            minhash_signatures(docs, id_col, text_col, num_perm, shingles, hash_fn)
        )
    if max_bucket is not None:
        bucket_n = F.count("*").over(Window.partitionBy("band", "band_hash"))
        bands = (
            bands.withColumn("bucket_n", bucket_n)
            .where(F.col("bucket_n") <= max_bucket)
            .drop("bucket_n")
        )
    buckets = bands.groupBy("band", "band_hash").agg(
        F.array_sort(F.collect_list("doc")).alias("docs")
    )
    ds = F.col("docs")
    in_bucket_pairs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    pairs = buckets.select(F.explode(in_bucket_pairs).alias("p")).select(
        F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2")
    )
    return pairs.distinct() if distinct_pairs else pairs


def _overcap_channel(
    exploded: DataFrame, key_cols: list[str], id_col: str, cap: int
) -> DataFrame:
    """Rows of ``exploded`` whose group (by ``key_cols``) exceeds ``cap``,
    annotated with the group's elected representative (min id — the same
    keeper rule elect_keepers uses) and size. ONE shuffle: count and min
    share a single Window over the group keys; the filter runs above the
    same Window exec, so the channel costs exactly the exchange the cap
    check already pays."""
    w = Window.partitionBy(*[F.col(c) for c in key_cols])
    return (
        exploded.select(
            *[F.col(c) for c in key_cols],
            F.col(id_col).alias("doc_id"),
            F.min(id_col).over(w).alias("template_id"),
            F.count("*").over(w).cast("long").alias("n_members"),
        )
        .where(F.col("n_members") > cap)
    )


def minhash_template_channel(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = NUM_PERM,
    max_bucket: int = 4,
    shingles: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """(band, band_hash, doc_id, template_id, n_members): the hot-bucket
    SIDE CHANNEL for ``minhash_candidates(max_bucket=...)`` — every doc in
    an over-cap LSH bucket, tagged with the bucket's elected template
    representative (min doc id).

    ``max_bucket`` protects the pairwise path from O(size²) blowup on
    boilerplate corpora, but dropping over-cap buckets silently UN-dedups
    their members. This channel re-emits them as template clusters:
    downstream keeps each bucket's template_id and drops (or re-weights)
    the rest — constant work per member, no pairs. Share one cached
    ``bands`` frame (``minhash_bands(minhash_signatures(...))``) with
    minhash_candidates to get both outputs from a single banding pass;
    the channel itself adds one Window exchange over the same
    (band, band_hash) keys the candidate groupBy uses (SCALE.md "hot
    buckets")."""
    if bands is None:
        bands = minhash_bands(minhash_signatures(docs, id_col, text_col, num_perm, shingles))
    return _overcap_channel(bands, ["band", "band_hash"], "doc", max_bucket)


def winnow_template_channel(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int = 20,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(fp, doc_id, template_id, n_members): the stop-fingerprint SIDE
    CHANNEL for ``winnow_pairs(max_df=...)`` — every (doc, fingerprint)
    row whose fingerprint exceeds the document-frequency cap, tagged with
    the fingerprint's elected template representative.

    winnow_pairs anti-joins stop-fingerprints away (they are corpus
    boilerplate; each contributes O(df²) pairs); this channel preserves
    them as template clusters so shared-boilerplate documents still get
    deduped — cluster members sharing an over-df fingerprint collapse to
    its template_id with constant work per member."""
    f = winnow_fingerprints(docs, id_col, text_col, k, window).select(
        F.col("doc"), F.explode("fps").alias("fp")
    )
    return _overcap_channel(f, ["fp"], "doc", max_df)


def ngram_decontam(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """(doc_id, n_grams, n_overlap): training documents sharing at least
    one word n-gram with a benchmark/eval set — train/test contamination
    detection (the GPT-3/Llama decontamination step: drop or flag
    training docs that contain eval n-grams).

    Scale shape: the benchmark side is SMALL by construction (eval sets
    are thousands of docs against a 100 TB corpus), so its distinct
    n-gram hash set is broadcast and the corpus side never shuffles its
    exploded grams — one broadcast left join + one groupBy(doc) over
    per-doc-distinct grams, whose key is the doc id (near-unique,
    skew-free). Grams are compared by portable 60-bit hash, not string
    (~10× fewer broadcast bytes; a collision flags one extra gram —
    acceptable for a filter that errs toward flagging). Docs shorter
    than ``n`` tokens carry no grams and cannot be flagged."""
    def gram_hashes(df: DataFrame) -> DataFrame:
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        grams = F.expr(
            f"transform(sequence(1, size(t)-{n - 1}),"
            f" i -> concat({_kgram_terms(n)}))"
        )
        return (
            df.select(F.col(id_col).alias("doc"), toks.alias("t"))
            .where(F.size("t") >= n)
            .select("doc", F.explode(F.array_distinct(grams)).alias("g"))
            .select("doc", portable_hash64(F.col("g")).alias("g"))
        )

    bench_grams = gram_hashes(bench).select("g").distinct().withColumn("hit", F.lit(1))
    return (
        gram_hashes(train)
        .join(F.broadcast(bench_grams), "g", "left")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
        .where(F.col("n_overlap") > 0)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-3-gram-shingle Jaccard verification → (id1, id2, jaccard).

    With ``candidates`` (an (id1, id2) frame, normally
    ``minhash_candidates``): intersections are computed ONLY for those
    pairs — the scale path; work is O(candidates × shingles-per-doc).

    Without: all-pairs via shingle co-occurrence self-join — exact but
    inherently quadratic once the shingle space saturates (at sf0.1 the
    ~30-word synthetic vocabulary yields 10M co-occurring pairs), so
    exhaustive mode is for small corpora and tests only.

    The shingle join key is xxhash64(shingle), not the string (~10× fewer
    shuffle bytes); a 64-bit collision (P ≈ n²/2⁶⁵) would perturb one
    pair's count by 1 — negligible. The verified-pair result is
    materialized with an eager localCheckpoint so nothing (cache or
    multiply-referenced lineage) stays resident in the caller's session
    (plans.library.materialized). Pass ``shingles`` (a cached
    ``shingle_frame``, string ``w`` or already folded to bigint ``w``)
    only when the caller is ALREADY amortizing the
    explode across another consumer; the self-built candidates path
    computes per-doc shingle arrays in-row instead (shingle_set_col — no
    explode, no groupBy(doc) exchange, r15)."""
    from itdb_spark.plans.library import materialized, truncate_lineage

    if shingles is not None and dict(shingles.dtypes).get("w") != "bigint":
        # fold string shingles to xxhash64 longs; a pre-folded (doc,
        # bigint w) frame is used as is (containment_join's guard)
        shingles = shingles.select("doc", F.xxhash64("w").alias("w"))
    if candidates is not None:
        # per-doc hash ARRAYS, intersected per candidate row — replaces
        # the exploded (pair x shingle) join+groupBy: same-session A/B
        # at sf0.1 measured the verification stage alone 2.3x faster
        # (1.39 s -> 0.60 s warm over cached inputs) and the registered
        # end-to-end query ~10% faster (3.38/2.73 s -> 3.04/2.52 s,
        # identical 17,274 output rows — candidate generation dominates
        # the rest). Fewer shuffled bytes: each pair ships two
        # doc-bounded arrays once instead of one row per candidate-side
        # shingle plus an aggregation.
        if shingles is not None:
            # caller-shared cached explode: fold + collect per doc (the
            # pre-r15 shape; the caller is amortizing the explode across
            # the candidate stage, so consume it rather than re-shingle)
            arrs = shingles.groupBy("doc").agg(F.collect_list("w").alias("ws"))
        else:
            # r15: the shingle-hash array is a PER-ROW fact, so the
            # self-built path computes it in-row (shingle_set_col — no
            # Generate, no groupBy(doc) exchange; the containment family's
            # measured win, commit "in-row shingle sets"). Row-identical to
            # explode→collect_list up to element ORDER, which
            # array_intersect/size never observe. Deliberately NOT
            # checkpointed even though it feeds BOTH join sides below:
            # recomputing the scan+transform per side beat a
            # localCheckpoint's block write+read in the interleaved A/B
            # (tools/jaccard_ab_r15.py: nockpt 1.84-2.05 s vs 2.29-2.77 s
            # checkpointed, every round) — and recompute-from-columnar-
            # parquet is the 100 TB posture anyway. NULL-text guard
            # matches the explode form (explode drops NULL-shingle docs —
            # see doc_shingle_sets for why the filter is on text, not ws).
            arrs = docs.where(F.col(text_col).isNotNull()).select(
                F.col(id_col).alias("doc"),
                shingle_set_col(text_col).alias("ws"),
            )
        a = arrs.select(F.col("doc").alias("id1"), F.col("ws").alias("ws1"))
        b = arrs.select(F.col("doc").alias("id2"), F.col("ws").alias("ws2"))
        # sz1/sz2 are size(ws) on plain attributes — the separate
        # groupBy(doc).count() aggregation and its two sa/sb joins the
        # pre-r15 form paid are gone (collect_list length == count(*)
        # per doc by construction, xxhash64 collisions included).
        common = (
            candidates.select("id1", "id2")
            .join(a, "id1")
            .join(b, "id2")
            .select(
                "id1",
                "id2",
                F.size(F.array_intersect("ws1", "ws2")).alias("common"),
                F.size("ws1").alias("sz1"),
                F.size("ws2").alias("sz2"),
            )
        )
    else:
        # exhaustive all-pairs via shingle co-occurrence self-join (small
        # corpora/tests only): keeps the exploded form — the self-join IS
        # over exploded rows. words feeds 4 references (a/b/sa/sb), so the
        # r14 checkpoint discipline stays.
        if shingles is None:
            shingles = shingle_frame(docs, id_col, text_col).select(
                "doc", F.xxhash64("w").alias("w")
            )
        words = truncate_lineage(shingles.select("doc", "w"))
        sizes = words.groupBy("doc").agg(F.count("*").alias("sz"))
        a = words.alias("a")
        b = words.alias("b")
        sa = sizes.select(F.col("doc").alias("id1"), F.col("sz").alias("sz1"))
        sb = sizes.select(F.col("doc").alias("id2"), F.col("sz").alias("sz2"))
        common = (
            a.join(
                b,
                (F.col("a.w") == F.col("b.w")) & (F.col("a.doc") < F.col("b.doc")),
            )
            .groupBy(F.col("a.doc").alias("id1"), F.col("b.doc").alias("id2"))
            .agg(F.count("*").alias("common"))
            .join(sa, "id1")
            .join(sb, "id2")
        )
    jac = F.col("common").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("common")
    ).cast("double")
    verified = common.select(
        "id1", "id2", F.round(jac, 4).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)
    return materialized(verified)


def containment_candidates(
    sh: DataFrame, t_num: int = 8, t_den: int = 10, materialize: bool = False
) -> DataFrame:
    """Small-side prefix-filter candidate pairs (id1 < id2) for
    ``containment_join`` from a (doc, w) shingle frame — exposed
    separately so the Zipf-fixture invariant test and the bench tooling
    can pin the candidate FRACTION (the quantity the sub-quadratic claim
    rides on) without paying for verification.

    ``materialize=True`` (the owning containment_join path) eagerly
    checkpoints the ranked frame: it feeds the candidate join on BOTH
    sides (prefix + index), so unmaterialized the join+two-windows
    subtree is planned and executed twice — ReuseExchange shares only
    the shuffle below the windows, not the sort+window above it. The
    default stays lazy for the plan-audit/invariant-test callers."""
    df_ = sh.groupBy("w").agg(F.count("*").alias("df"))
    ranked = (
        sh.join(df_, "w")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("doc").orderBy("df", "w")),
        )
        .withColumn("nt", F.count("*").over(Window.partitionBy("doc")))
    )
    if materialize:
        from itdb_spark.plans.library import truncate_lineage

        ranked = truncate_lineage(ranked)
    # prefix length |S| - ceil(t|S|) + 1; integer ceil = (t_num*n + t_den-1) DIV t_den
    prefix = ranked.where(
        F.col("rn")
        <= F.col("nt") - F.expr(f"({t_num} * nt + {t_den - 1}) DIV {t_den}") + 1
    ).select("doc", "w", "nt", "rn")
    index = ranked.select("doc", "w", "nt", "rn")
    # PPJoin positional filter (Xiao/Wang/Lin/Yu WWW 2008 §3.2, adapted
    # to the containment measure; round 11 — the sf10 second-decade
    # point measured the UNfiltered candidate set at ~1.2% of quadratic
    # on the saturated synthetic vocabulary, which fed ~83 GB of
    # array-carrying rows into the verification join and over-spilled
    # the host disk): for any common shingle at ranks (rn_a, rn_b),
    # every OTHER common shingle of the pair sits after SOME common
    # shingle, so at the pair's first common shingle
    # |A∩B| <= 1 + min(nt_a - rn_a, nt_b - rn_b). The max of that bound
    # over the matched prefix shingles is >= the bound at the first
    # common shingle (remaining counts shrink with rank), hence pruning
    # pairs whose max bound misses ceil(t*min(nt)) is LOSSLESS — the
    # recall pins (tests/test_wave10.py) and the exhaustive oracle gate
    # it. The groupBy REPLACES the old .distinct() (same shuffle, two
    # extra int columns), so the filter is structurally free.
    return (
        prefix.alias("a")
        .join(index.alias("b"), "w")
        .where(
            (F.col("a.nt") < F.col("b.nt"))
            | ((F.col("a.nt") == F.col("b.nt")) & (F.col("a.doc") < F.col("b.doc")))
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("id1"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id2"),
            (
                F.lit(1)
                + F.least(
                    F.col("a.nt") - F.col("a.rn"), F.col("b.nt") - F.col("b.rn")
                )
            ).alias("ub"),
            F.expr(f"({t_num} * a.nt + {t_den - 1}) DIV {t_den}").alias("req"),
        )
        .groupBy("id1", "id2")
        .agg(F.max("ub").alias("ub"), F.max("req").alias("req"))
        .where(F.col("ub") >= F.col("req"))
        .select("id1", "id2")
    )


def containment_join_incremental(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    new_col: str,
    t_num: int = 8,
    t_den: int = 10,
) -> DataFrame:
    """Incremental form of ``containment_join``: EXACTLY the pairs at
    containment >= t that TOUCH the increment (``new_col`` boolean marks
    the newly-ingested docs) — the append-only production shape: a batch
    lands, screen it for subsumption against the whole corpus WITHOUT
    regenerating the old×old pair space.

    Still lossless, by splitting the small-side prefix probe on which
    side is new. For a qualifying pair (A small, B other):
    * A new  → probe 1 covers it: prefixes of NEW docs join the FULL
      inverted index (old ∪ new);
    * A old, B new → probe 2 covers it: prefixes of OLD docs join the
      index restricted to NEW docs' shingles only.
    Old×old pairs are generated by NEITHER probe — that is the whole
    saving: probe 2's index side is increment-sized, probe 1's prefix
    side is increment-sized, so pair-generation work is bounded by the
    batch, never the corpus². Document frequencies (the rarest-first
    prefix order) are recomputed over the UNION — one cheap groupBy
    pass, the exactness price: stale df could reorder prefixes and
    break the theorem. (A FROZEN hash order would avoid even that pass
    and stay lossless — any fixed total order satisfies the theorem —
    but gives up rarest-first pruning; measured on the Zipf fixture the
    df order keeps ~100x fewer candidates, so the union-df recompute is
    the right trade.) Verification is the same exact intersection over
    candidates; output schema matches containment_join.
    """
    from itdb_spark.plans.library import materialized, truncate_lineage

    # canonicalize over the UNION (the containment_join discipline,
    # extended with the increment class): docs group by exact shingle
    # set; a set is new-touched / old-touched from its members, the
    # case-split probes run at SET level, and qualifying set pairs
    # expand back to doc pairs filtered to those touching the increment.
    # r15: the shingle set AND the is_new flag are both per-row facts,
    # so doc_sets is ONE in-row projection (shingle_set_col) — the old
    # explode→groupBy(doc)→join(flags) shape paid a corpus-scale
    # exchange plus a join to reassemble columns that never left the row.
    # NULL-text guard on the TEXT column (ts is NULL iff text is NULL;
    # a ts filter would re-evaluate the shingle expression — see
    # doc_shingle_sets)
    doc_sets = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        shingle_set_col(text_col).alias("ts"),
        F.col(new_col).alias("is_new"),
    )
    # eager lineage truncation instead of .cache(): canon is referenced
    # 5x below (rep / reps twice / members twice / same) and every
    # reference to a CACHED frame re-analyzes its full logical subtree —
    # the same near-exponential plan-composition cost measured at 1.5 s
    # driver wall per call on containment_probe_persisted (guide §3.3 /
    # §7.3: materialize to truncate the plan). The checkpoint is one
    # materialization of the same distinct-content-bounded frame the
    # cache held, so the 100 TB shape is unchanged.
    canon = truncate_lineage(
        doc_sets.groupBy("ts")
        .agg(
            F.min("doc").alias("sid"),
            F.sort_array(F.collect_list(F.struct("doc", "is_new"))).alias(
                "members"
            ),
            F.max(F.col("is_new").cast("int")).alias("has_new"),
            F.max((~F.col("is_new")).cast("int")).alias("has_old"),
        )
        .select(
            "sid",
            "ts",
            "members",
            F.size("ts").cast("long").alias("n"),
            (F.col("has_new") == 1).alias("has_new"),
            (F.col("has_old") == 1).alias("has_old"),
        )
    )
    rep = canon.select(
        F.col("sid").alias("doc"),
        "has_new",
        "has_old",
        F.explode("ts").alias("w"),
    )
    df_ = rep.groupBy("w").agg(F.count("*").alias("df"))
    # ranked feeds BOTH probes on BOTH sides (prefix in probe1+probe2,
    # index in probe1+probe2) — unmaterialized, the join+two-windows
    # subtree is planned 4x and executed up to 4x (ReuseExchange only
    # shares the shuffle below the windows, not the sort+window work
    # above it); one eager checkpoint runs it once and keeps the four
    # references leaf-sized in the composed candidate plan
    ranked = truncate_lineage(
        rep.join(df_, "w")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("doc").orderBy("df", "w")),
        )
        .withColumn("nt", F.count("*").over(Window.partitionBy("doc")))
    )
    prefix = ranked.where(
        F.col("rn")
        <= F.col("nt") - F.expr(f"({t_num} * nt + {t_den - 1}) DIV {t_den}") + 1
    ).select("doc", "w", "nt", "rn", "has_new", "has_old")
    index = ranked.select("doc", "w", "nt", "rn", "has_new", "has_old")
    small_side = (F.col("a.nt") < F.col("b.nt")) | (
        (F.col("a.nt") == F.col("b.nt")) & (F.col("a.doc") < F.col("b.doc"))
    )
    # same PPJoin positional bound as containment_candidates — the max
    # over matched prefix shingles dominates the bound at the pair's
    # first common shingle, so the prune is lossless (see the filter
    # comment there); applied over the UNION of both probes so a pair
    # surfaced by both is judged on its best bound.
    pair_cols = [
        F.least(F.col("a.doc"), F.col("b.doc")).alias("id1"),
        F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id2"),
        (
            F.lit(1)
            + F.least(F.col("a.nt") - F.col("a.rn"), F.col("b.nt") - F.col("b.rn"))
        ).alias("ub"),
        F.expr(f"({t_num} * a.nt + {t_den - 1}) DIV {t_den}").alias("req"),
    ]
    probe1 = (
        prefix.where("has_new").alias("a")
        .join(index.alias("b"), "w")
        .where(small_side)
        .select(*pair_cols)
    )
    probe2 = (
        prefix.where("has_old").alias("a")
        .join(index.where("has_new").alias("b"), "w")
        .where(small_side)
        .select(*pair_cols)
    )
    cand = (
        probe1.unionByName(probe2)
        .groupBy("id1", "id2")
        .agg(F.max("ub").alias("ub"), F.max("req").alias("req"))
        .where(F.col("ub") >= F.col("req"))
        .select("id1", "id2")
    )
    reps = canon.select("sid", "ts", "n")
    qual = (
        cand.join(
            reps.select(
                F.col("sid").alias("id1"),
                F.col("ts").alias("ts1"),
                F.col("n").alias("n1"),
            ),
            "id1",
        )
        .join(
            reps.select(
                F.col("sid").alias("id2"),
                F.col("ts").alias("ts2"),
                F.col("n").alias("n2"),
            ),
            "id2",
        )
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("ts1", "ts2")).cast("long").alias("inter"),
            F.least("n1", "n2").alias("small"),
        )
        .where(t_den * F.col("inter") >= t_num * F.col("small"))
    )
    members = canon.select("sid", F.explode("members").alias("m")).select(
        "sid", F.col("m.doc").alias("doc"), F.col("m.is_new").alias("mnew")
    )
    cross = (
        qual.join(
            members.select(
                F.col("sid").alias("id1"),
                F.col("doc").alias("d1"),
                F.col("mnew").alias("new1"),
            ),
            "id1",
        )
        .join(
            members.select(
                F.col("sid").alias("id2"),
                F.col("doc").alias("d2"),
                F.col("mnew").alias("new2"),
            ),
            "id2",
        )
        .where(F.col("new1") | F.col("new2"))
        .select(
            F.least("d1", "d2").alias("id1"),
            F.greatest("d1", "d2").alias("id2"),
            "inter",
            "small",
        )
    )
    # identical-set pairs touching the increment, in-row over the
    # doc-sorted member structs
    same = (
        canon.where(F.size("members") >= 2)
        .select(
            "n",
            F.explode(
                F.expr(
                    "flatten(transform(members, (m1, i) -> "
                    "transform(slice(members, i + 2, size(members)), "
                    "m2 -> struct(m1, m2))))"
                )
            ).alias("p"),
        )
        .where(F.col("p.m1.is_new") | F.col("p.m2.is_new"))
        .select(
            F.col("p.m1.doc").alias("id1"),
            F.col("p.m2.doc").alias("id2"),
            F.col("n").alias("inter"),
            F.col("n").alias("small"),
        )
    )
    out = cross.unionByName(same).select(
        "id1",
        "id2",
        "inter",
        "small",
        F.expr("CAST(1000 * inter DIV small AS BIGINT)").alias("contain_milli"),
    )
    return materialized(out, canon)


def containment_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 8,
    t_den: int = 10,
    shingles: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """EXACT containment self-join at C(A,B) = |A∩B| / min(|A|,|B|) >=
    t_num/t_den over word-3-gram shingle sets, via SMALL-SIDE prefix
    filtering — the lossless route to quote/boilerplate subsumption that
    the LSH candidate stage structurally misses: a short document quoted
    wholesale inside a long one has containment ~1 but Jaccard ~0.1, and
    MinHash bands tuned for the Jaccard threshold surface 1% of such
    planted pairs (measured, SCALE.md §round-9 boundary; the recall test
    in tests/test_wave10.py pins THIS operator at 100% on that corpus,
    which lossless candidate generation guarantees by construction).

    Filter theorem (the dedup-allpairs prefix bound specialized to the
    asymmetric overlap measure, after Bayardo/Ma/Srikant WWW 2007 §4):
    order shingles globally rarest-first by (df, w). A qualifying pair's
    SMALLER set S shares >= ceil(t·|S|) shingles with the other set, so
    S's first |S| - ceil(t·|S|) + 1 shingles under that order cannot all
    miss — if they did, the overlap would fit inside the remaining
    ceil(t·|S|) - 1. Candidate generation therefore joins only the small
    side's PREFIX against the full inverted index; prefix shingles are
    the globally rarest by construction, so candidate cost is
    sum_docs sum_{w in prefix(d)} df(w) — sub-quadratic on Zipfian df.
    The containment bound depends only on the small set, so no
    index-side prefix exists to exploit (the structural asymmetry vs the
    symmetric Jaccard AllPairs join — one side of the join is the whole
    shingle frame, which is why this costs more than dedup-allpairs at
    equal thresholds and why the LSH family remains the probabilistic
    scale route when losslessness isn't required).

    When |A| = |B| either side is "small" and either prefix works; the
    pair is generated exactly once, from the lexicographically smaller
    doc id. Verification is exact sorted-array intersection confined to
    candidates. Generalizes the reference's bounded candidate probe
    (dupes/dedup.py:146-171) from filename prefixes to content shingles.

    Shingles are folded to ``xxhash64`` longs before everything (the
    ngram_jaccard_pairs discipline: ~10x fewer shuffle/array bytes than
    the ~25-char strings; a 64-bit collision, P ~ n²/2⁶⁵, perturbs one
    pair's intersection by 1 — negligible, and the result set is
    join-key-agnostic anyway: the prefix theorem needs only SOME global
    total order, so ranking by (df, hash) instead of (df, string)
    changes which candidates are probed, never which pairs verify.
    Measured 7.9 s -> 4.9 s at sf0.1 (same session, warm).
    """
    from itdb_spark.plans.library import materialized

    sh = shingles
    if sh is not None and dict(sh.dtypes).get("w") != "bigint":
        # accept a pre-folded (doc, bigint w) frame — callers that cache
        # the shingle explode should cache the FOLDED form (16 B/row vs
        # the ~60 B string rows; the sf10 heap lesson), skip the re-fold
        sh = sh.select("doc", F.xxhash64("w").alias("w"))
    # --- canonicalize: candidates + verification per DISTINCT shingle
    # set, not per doc (round 11 — the sf10 second-decade point killed
    # the per-doc form: 164M candidate pairs x two ~300 B shingle
    # arrays over-spilled the measurement host's disk; this corpus is
    # ~3x exact-duplicate content, real crawls commonly 30-50%). Docs
    # group by their EXACT sorted shingle array (no hash involved —
    # groupBy on the array value), one representative set id (min doc)
    # enters candidate generation and array verification, and
    # qualifying SET pairs expand back to doc pairs at the end —
    # work scales with distinct content, never with duplication depth.
    # Identical-set doc pairs never reach the verifier at all: their
    # containment is 1 by definition (emitted arithmetically below).
    # The prefix theorem is unaffected: it needs only a global total
    # order over shingles, and distinct-set df is one.
    # r15: the self-built path computes the shingle-set array IN-ROW
    # (shingle_set_col — no explode, no groupBy(doc) exchange); the
    # explode→groupBy form survives only for caller-provided shingle
    # frames, whose explode the caller is sharing deliberately.
    doc_sets = (
        sh.groupBy("doc").agg(F.sort_array(F.collect_list("w")).alias("ts"))
        if sh is not None
        else doc_shingle_sets(docs, id_col, text_col)
    )
    canon = (
        doc_sets.groupBy("ts")
        .agg(
            F.min("doc").alias("sid"),
            F.sort_array(F.collect_list("doc")).alias("members"),
        )
        .select("sid", "ts", "members", F.size("ts").cast("long").alias("n"))
    )
    if materialize:
        # eager lineage truncation on the owning path (was .cache() —
        # canon is referenced 4x below and each reference to a cached
        # frame re-analyzes its full subtree; the checkpoint is the same
        # single materialization with leaf-sized references, the fix
        # measured at ~2x on containment_probe_persisted). The lazy
        # (materialize=False) form is a plan-audit hook and stays fully
        # lazy (tests/test_plan_audit.py explains the composed plan).
        from itdb_spark.plans.library import truncate_lineage

        canon = truncate_lineage(canon)
    rep_sh = canon.select(F.col("sid").alias("doc"), F.explode("ts").alias("w"))
    cand = containment_candidates(rep_sh, t_num, t_den, materialize=materialize)
    reps = canon.select("sid", "ts", "n")
    qual = (
        cand.join(
            reps.select(
                F.col("sid").alias("id1"),
                F.col("ts").alias("ts1"),
                F.col("n").alias("n1"),
            ),
            "id1",
        )
        .join(
            reps.select(
                F.col("sid").alias("id2"),
                F.col("ts").alias("ts2"),
                F.col("n").alias("n2"),
            ),
            "id2",
        )
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("ts1", "ts2")).cast("long").alias("inter"),
            F.least("n1", "n2").alias("small"),
        )
        .where(t_den * F.col("inter") >= t_num * F.col("small"))
    )
    members = canon.select("sid", F.explode("members").alias("doc"))
    cross = (
        qual.join(
            members.select(F.col("sid").alias("id1"), F.col("doc").alias("d1")),
            "id1",
        )
        .join(
            members.select(F.col("sid").alias("id2"), F.col("doc").alias("d2")),
            "id2",
        )
        .select(
            F.least("d1", "d2").alias("id1"),
            F.greatest("d1", "d2").alias("id2"),
            "inter",
            "small",
        )
    )
    # identical-set pairs: every (d1 < d2) inside a member list, in-row
    # (members is sorted, so the nested transform emits ordered pairs)
    same = (
        canon.where(F.size("members") >= 2)
        .select(
            "n",
            F.explode(
                F.expr(
                    "flatten(transform(members, (d1, i) -> "
                    "transform(slice(members, i + 2, size(members)), "
                    "d2 -> struct(d1, d2))))"
                )
            ).alias("p"),
        )
        .select(
            F.col("p.d1").alias("id1"),
            F.col("p.d2").alias("id2"),
            F.col("n").alias("inter"),
            F.col("n").alias("small"),
        )
    )
    out = cross.unionByName(same).select(
        "id1",
        "id2",
        "inter",
        "small",
        F.expr("CAST(1000 * inter DIV small AS BIGINT)").alias("contain_milli"),
    )
    if not materialize:
        # plan-audit hook: hand back the LAZY frame — no cache was
        # attached on this path (see above), so even an executing
        # caller leaks nothing
        return out
    return materialized(out, canon)


def simhash(
    docs: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(doc, simhash): sign of the per-bit sum of ±1 token-hash contributions
    — token *multiset*, each occurrence votes. One explode + one groupBy
    with ``bits`` conditional sums (all map-side combinable). Near-dups
    share most bits → group/bucket on the value."""
    words = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    )
    hashed = words.select("doc", portable_hash64(F.col("w")).alias("h"))
    sums = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"bit{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy("doc").agg(*sums)
    value = None
    for b in range(bits):
        term = F.when(F.col(f"bit{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        value = term if value is None else (value + term)
    return agg.select("doc", value.cast("long").alias("simhash"))


def _kgram_terms(k: int) -> str:
    """Space-joined k-gram concat() operand list over tokens ``t`` for a
    1-based loop variable ``i`` — ``t[i-1], ' ', t[i], ..., t[i+k-2]``.
    Built from ``k`` so winnow_fingerprints honors its k parameter for
    every k, not just the trigram default."""
    def idx(off: int) -> str:
        return "t[i]" if off == 0 else f"t[i{off:+d}]"

    return ", ' ', ".join(idx(j - 1) for j in range(k))


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(doc, fps): distinct winnowing fingerprints per document —
    portable-hash every k-gram, slide a ``window`` of consecutive hashes,
    keep each window's minimum (Schleimer-Wilkerson-Aiken). Guarantee:
    documents sharing a run of >= window+k-1 tokens share a fingerprint.
    Pure per-row array expressions: no shuffle, no UDF. Shared by the
    text-winnow gate query and winnow_pairs."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # k-gram hashes as ROWS, not a nested array expression: Catalyst's
    # projection collapse would inline an h-array EXPRESSION into every
    # per-window slice(h, j, w) reference — recomputing the whole md5
    # chain once per window, O(n·w) interpreted hash evals per doc
    # (measured 60s for 500 docs). posexplode → codegen'd md5 once per
    # k-gram → collect back through an aggregation, whose output is an
    # ATTRIBUTE the collapse cannot substitute into.
    kg = (
        docs.select(F.col(id_col).alias("doc"), toks.alias("t"))
        .where(F.size("t") >= k)
        .select(
            "doc",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t)-{k - 1}),"
                    f" i -> concat({_kgram_terms(k)}))"
                )
            ).alias("pos", "g"),
        )
        .select("doc", "pos", portable_hash64(F.col("g")).alias("h"))
    )
    base = kg.groupBy("doc").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "h"))),
            lambda s: s.getField("h"),
        ).alias("h")
    )
    n_windows = F.greatest(F.size("h") - window + 1, F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice("h", j, window)),
        )
    )
    return base.select("doc", F.size("h").cast("long").alias("n_kgrams"), fps.alias("fps"))


def winnow_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 3,
    max_df: int = 20,
) -> DataFrame:
    """(id1, id2, n_shared): document pairs sharing >= ``min_shared``
    winnowing fingerprints — the plagiarism/boilerplate-detection join.

    Scale shape mirrors LSH bucketing: explode fingerprints, DROP
    stop-fingerprints appearing in more than ``max_df`` documents (they
    are corpus boilerplate, and each contributes O(df²) pairs — the
    exact hot-bucket hazard minhash_candidates caps), then self-join on
    fingerprint. Quadratic work is confined to <= max_df-sized posting
    lists. The df-filter broadcasts the SMALL side: a map-side-combinable
    count yields the stop-set (df > max_df), rare by construction, and
    the exploded table anti-joins against it — the hot-key discipline of
    operators/skew.py::skew_safe_join. (Never broadcast the
    kept-fingerprint complement: it is nearly every distinct fingerprint
    in the corpus — billions of rows at 100 TB.)"""
    from itdb_spark.plans.library import materialized

    pairs, f = _winnow_pairs_plan(docs, id_col, text_col, min_shared, max_df)
    return materialized(pairs, f)


def _winnow_pairs_plan(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int,
    max_df: int,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, cached fingerprint frame) BEFORE lineage truncation — split
    out so tests/test_scale_paths.py can assert the physical join plan
    (materialized() checkpoints eagerly, hiding the join behind an RDD
    scan)."""
    # One cached fingerprint table feeds the df-count AND both join sides
    # (the ngram_jaccard_pairs cache-then-release convention) — without it
    # the narrow md5/k-gram pipeline recomputes once per consumer.
    f = (
        winnow_fingerprints(docs, id_col, text_col)
        .select("doc", F.explode("fps").alias("fp"))
        .cache()
    )
    stop = (
        f.groupBy("fp").agg(F.count("*").alias("df")).where(F.col("df") > max_df)
        .select("fp")
    )
    kept = f.join(F.broadcast(stop), "fp", "left_anti")
    a = kept.select(F.col("fp").alias("a_fp"), F.col("doc").alias("id1"))
    b = kept.select(F.col("fp").alias("b_fp"), F.col("doc").alias("id2"))
    pairs = (
        a.join(b, (F.col("a_fp") == F.col("b_fp")) & (F.col("id1") < F.col("id2")))
        .groupBy("id1", "id2")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return pairs, f


def chunk_dup_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks): fixed-window chunk-level dedup
    signals — split each doc into consecutive ``chunk_tokens``-token
    chunks (full chunks only), hash them, and count how many of a doc's
    distinct chunks appear in at least one OTHER document. The
    paragraph/passage-dedup step (RefinedWeb-style) generalized to
    boundary-free text; documents shorter than one chunk carry none.

    Blind spot by design: a one-token shift moves every chunk boundary,
    so near-dups with insertions evade chunk hashing — that is what
    winnowing (text-winnow) is for; chunk dedup is the cheap exact-reuse
    detector. Two map-side-combined shuffles: chunk-hash (near-unique,
    skew-free) then doc."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    chunks = F.expr(
        f"transform(sequence(1, size(t) div {chunk_tokens}),"
        f" i -> concat_ws(' ', slice(t, (i-1)*{chunk_tokens}+1, {chunk_tokens})))"
    )
    ch = (
        docs.select(F.col(id_col).alias("doc"), toks.alias("t"))
        .where(F.size("t") >= chunk_tokens)
        .select("doc", F.explode(F.array_distinct(chunks)).alias("c"))
        .select("doc", portable_hash64(F.col("c")).alias("h"))
    )
    docs_per_chunk = ch.groupBy("h").agg(
        F.count_distinct("doc").alias("nd")
    )
    return (
        ch.join(docs_per_chunk, "h")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("long")
            .alias("n_dup_chunks"),
        )
    )


def band_collision_counts(new_bands: DataFrame, index_bands: DataFrame) -> DataFrame:
    """(doc_id, n_hit_bands): incremental-ingest dedup — for each NEW
    document, how many of its LSH bands collide with any bucket of the
    EXISTING corpus index. A doc with n_hit_bands >= 1 is a near-dup
    suspect of something already ingested and goes to verification; the
    rest append clean.

    Scale shape: the index side is the persisted band table of the whole
    corpus (write.partitionBy or bucketBy on (band, band_hash)); the new
    batch is small — broadcast it or rely on the index bucketing so only
    matching buckets are read. No pairwise work at all: collision is
    detected against bucket KEYS (one distinct pass), not member lists."""
    idx = index_bands.select("band", "band_hash").distinct()
    return (
        new_bands.join(idx, ["band", "band_hash"])
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count_distinct("band").cast("long").alias("n_hit_bands"))
    )


def band_collision_counts_onepass(
    bands: DataFrame, is_idx: Column
) -> DataFrame:
    """``band_collision_counts`` for the case where index and batch are
    SPLITS OF ONE BAND TABLE (the rebuild form's shape): instead of
    filtering the table twice, distinct-ing the index side and joining
    the batch side back (which plants TWO copies of the whole signature
    pipeline in the plan — measured r14: the composed plan cost ~1.3 s
    of driver planning per call, the query's single largest component),
    flag each (band, band_hash) bucket with a window max of ``is_idx``
    and keep batch rows in flagged buckets. ONE copy of the pipeline,
    ONE bucket-keyed shuffle in place of distinct + join — the same
    rows survive: a batch band row joins a distinct index key iff its
    bucket contains >= 1 index row, which is exactly ``max(is_idx) =
    1`` over the bucket. At scale this also drops the join's second
    corpus-scale shuffle (the window and the removed distinct shuffle
    the same band table once).

    NULL keys (r14 ADVICE): an equi-join drops NULL-keyed rows while
    ``Window.partitionBy`` groups them together, so rows with a NULL
    ``band``/``band_hash`` are filtered up front to keep the
    join-equivalence claim exact for ANY caller (minhash_bands itself
    can never produce them — concat_ws never yields NULL — so this
    filter drops nothing on the registered paths)."""
    w = Window.partitionBy("band", "band_hash")
    flag = F.max(F.when(is_idx, 1).otherwise(0)).over(w)
    return (
        bands.where(F.col("band").isNotNull() & F.col("band_hash").isNotNull())
        .withColumn("_hit", flag)
        .where((~is_idx) & (F.col("_hit") == 1))
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count_distinct("band").cast("long").alias("n_hit_bands"))
    )


def persist_band_index(bands: DataFrame, root: str) -> str:
    """Publish the corpus LSH band table (doc, band, band_hash) as a
    versioned on-disk index — the build-once/probe-many serving shape
    the ANN family already has (persist_ivf_index): at 100 TB the
    corpus-side signatures are computed ONCE at ingest and every
    subsequent batch probes the persisted table instead of re-shingling
    the whole corpus (the rebuild form's per-call cost, linear in the
    corpus; the persisted probe's per-call cost is linear in the BATCH).

    Layout: one immutable version dir hive-partitioned by ``band``
    (NUM_BANDS partitions — a probe restricted to a band subset prunes
    directories; the full probe reads (band, band_hash) keys only,
    never text), published via the sinks/versioned.py atomic-manifest
    kernel — so a refresh (append batch bands, or full rebuild after
    retuning num_perm) is write_version + one atomic pointer swap, with
    old versions retained for pinned readers until vacuum. Returns the
    published version name. band_hash strings and doc ids round-trip
    parquet exactly, so the persisted probe is BIT-identical to the
    in-session form (gated in tests).

    A sibling versioned table at ``<root>_keys`` holds the DISTINCT
    bucket keys (band, band_hash) — round 12: the sf10 probe profile
    put ~2 s of its 11.8 s wall in re-deriving the key set from the
    4M-row member table EVERY call, a corpus-scale distinct that
    belongs at publish time (collision screening needs keys only; the
    member rows stay for verification routing). The keys table is
    derived and read alone by the probe, so single-table manifest
    atomicity still covers every reader.

    Publish ORDER (ADVICE r12): member table FIRST, keys sibling
    SECOND. The two manifests have no cross-table atomicity, so the
    order picks which torn state a crash between them leaves: keys
    without members would route collision hits to members that do not
    exist (over-report, wrong), while members without keys just means
    the probe's fallback derives keys from the member table (fully
    live, merely unamortized) — fail toward under-claiming."""
    from itdb_spark.sinks.versioned import write_version

    v = write_version(bands, root, partition_by=["band"])
    write_version(
        bands.select("band", "band_hash").distinct(),
        root + "_keys",
        partition_by=["band"],
    )
    return v


def band_collision_counts_persisted(
    spark: SparkSession, index_root: str, new_bands: DataFrame
) -> DataFrame:
    """``band_collision_counts`` against a ``persist_band_index`` table:
    the amortized incremental-ingest path — per-call work is the new
    batch's signatures plus one key-join against the on-disk DISTINCT
    bucket-key table (``<root>_keys``, written at publish; no member
    lists, no pairs, no corpus recompute OR corpus-scale distinct per
    call). Reader is pinned to the currently-published version, so a
    concurrent index refresh never perturbs an in-flight probe. Falls
    back to deriving keys from the member table for pre-round-12 roots
    published without the sibling. Both reads follow the append chain
    (read_current_chain — identical to read_current for tables only
    ever replaced), so an ``append_band_index``-maintained index serves
    without compaction."""
    from itdb_spark.sinks.versioned import current_version, read_current_chain

    keys_root = index_root + "_keys"
    if current_version(keys_root) is not None:
        keys = read_current_chain(spark, keys_root).select(
            "band", "band_hash"
        )
        return (
            new_bands.join(keys, ["band", "band_hash"])
            .groupBy(F.col("doc").alias("doc_id"))
            .agg(F.count_distinct("band").cast("long").alias("n_hit_bands"))
        )
    return band_collision_counts(
        new_bands, read_current_chain(spark, index_root)
    )


def append_band_index(
    spark: SparkSession, root: str, new_bands: DataFrame,
    tag: str | None = None,
) -> str:
    """BATCH-BOUNDED refresh of a ``persist_band_index`` table (round
    12 — the containment index's append_containment_index discipline
    applied to the MinHash family): after a screened batch is accepted,
    its band rows land as a DELTA version of the member table and its
    NOT-YET-PRESENT bucket keys as a delta of the sibling keys table —
    two append_version publishes, each an atomic pointer swap, write
    cost bounded by the batch. The novelty anti-join is batch-bounded
    on BOTH sides: the chain's key table is first map-side restricted
    by the broadcast batch keys (matched ⊆ batch keys), then the
    batch's keys anti-join that small frame — the corpus-scale key set
    is scanned once, never shuffled. Returns the member table's new
    version name.

    Publish ORDER (ADVICE r12): member delta FIRST, keys delta SECOND
    — a crash between the two sibling publishes then leaves a keys
    table that merely UNDER-reports (the batch screens as not yet
    accepted; probes stay correct-toward-novelty), instead of keys
    claiming buckets whose member rows do not exist. The novelty
    anti-join reads the keys CHAIN as of entry, which the member
    append never touches, so the swap changes no published content.

    ``tag`` (round 13) makes acceptance idempotent under at-least-once
    delivery: the tag publishes atomically with the KEYS delta — the
    LAST of the two sibling publishes, so a replay after a crash
    between them REDOES both (completing the torn pair) rather than
    skipping forever with the keys half missing. The redo's only
    artifact is a duplicate member delta, which every probe path
    absorbs (collision screening reads the keys SET; counts are
    count_distinct) — exactly-once for the pair's visible semantics."""
    from itdb_spark.sinks.versioned import (
        append_version,
        chain_tags,
        current_version,
        read_current_chain,
    )

    keys_root = root + "_keys"
    if tag and tag in chain_tags(keys_root):
        return current_version(root)  # replay of a COMPLETED accept
    bkeys = new_bands.select("band", "band_hash").distinct()
    matched = (
        read_current_chain(spark, keys_root)
        .select("band", "band_hash")
        .join(F.broadcast(bkeys), ["band", "band_hash"])
        .distinct()
    )
    fresh = bkeys.join(matched, ["band", "band_hash"], "left_anti")
    v = append_version(new_bands, root, partition_by=["band"])
    append_version(fresh, keys_root, partition_by=["band"], tag=tag)
    return v


def persist_containment_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    root: str,
    t_num: int = 8,
    t_den: int = 10,
) -> str:
    """Build + publish the corpus CONTAINMENT serving index (round 12,
    VERDICT r11 #2 — the build-once/probe-many split dedup-incr-persist
    already gives the MinHash family, now for the lossless prefix-filter
    family): one versioned table, hive-partitioned by ``kind``, holding
    the corpus CANONICALIZED to distinct shingle sets (hazard class 3 —
    an index stored per-doc would multiply every future probe's
    candidate space by the corpus's duplication depth squared; measured
    7.1 s vs the rebuild's 5.0 s at sf0.1 before this canonicalization,
    2.0 s after):

      kind='post':   (sid, w BIGINT, df, nt, rn, pfx) — one row per
                     (distinct set, shingle), ranked under the corpus's
                     own frozen (df, w) rarest-first order, where df is
                     the shingle's DISTINCT-SET frequency (the
                     containment_join convention), rn the set's rank of
                     w under (df, w), nt the set size, pfx the prefix
                     marker (rn <= nt - ceil(t*nt) + 1);
      kind='member': (sid, doc) — the set → document expansion map;
      kind='vocab':  (w, df) — one row per distinct shingle, so a probe
                     ranks its batch with one map-side key join instead
                     of deduplicating posting rows per call;
      kind='set':    (sid, ts ARRAY<BIGINT>, kh BIGINT) — each set's
                     sorted shingle array plus its STORED content hash
                     kh = xxhash64(ts), so verification READS candidate
                     arrays (map-side semi-restricted) instead of
                     re-collecting them from postings with a per-call
                     shuffle, and the APPEND path matches batch content
                     against the chain by pushing the batch's kh keys
                     into the parquet scan instead of re-hashing every
                     corpus set array per refresh (r12 VERDICT #4). The
                     version is written repartitionByRange(kind, kh) +
                     sortWithinPartitions(kh): each set-partition file
                     covers a narrow kh band, so row-group min/max
                     stats bound the append's IO by the batch's touched
                     files, not the corpus.

    Persisting the RANKS — not just the shingles — is what makes the
    probe batch-bounded: the rebuild form (containment_join_incremental)
    recomputes the union shingle frame and global df-order per call, a
    corpus-scale shuffle regardless of batch size (its 3.7x second
    decade was the round-11 SCALE table's worst row).

    The frozen order stays LOSSLESS for any future batch because the
    prefix theorem needs only SOME shared global total order: (df, w)
    with df := 0 for never-indexed shingles is a fixed total order that
    probe-time ranking reproduces exactly (index rows' ranks depend only
    on their own shingles, all present at build time). Freezing trades
    a little pruning quality — batch-era df drift doesn't reorder
    prefixes — for corpus-free probes.

    Published via the sinks/versioned.py atomic-manifest kernel — both
    kinds land in ONE version directory behind ONE atomic pointer swap
    (readers partition-prune on kind); refresh after accepting a batch =
    rebuild over the union + write_version (snapshot-isolated; pinned
    readers keep their version until vacuum). Returns the version name.
    """
    from itdb_spark.sinks.versioned import write_version

    # r15: in-row shingle-set build (shingle_set_col) — one less
    # corpus-scale exchange per index build
    doc_sets = doc_shingle_sets(docs, id_col, text_col)
    # canon feeds post/member/set and (via rep_sh) vocab — cache for the
    # build's one write action, released right after
    canon = (
        doc_sets.groupBy("ts")
        .agg(F.min("doc").alias("sid"), F.collect_list("doc").alias("members"))
        .cache()
    )
    rep_sh = canon.select("sid", F.explode("ts").alias("w"))
    df_ = rep_sh.groupBy("w").agg(F.count("*").alias("df"))
    post = (
        rep_sh.join(df_, "w")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("sid").orderBy("df", "w")),
        )
        .withColumn("nt", F.count("*").over(Window.partitionBy("sid")))
        .withColumn(
            "pfx",
            F.col("rn")
            <= F.col("nt")
            - F.expr(f"({t_num} * nt + {t_den - 1}) DIV {t_den}")
            + 1,
        )
        .select("sid", "w", "df", "nt", "rn", "pfx", F.lit("post").alias("kind"))
    )
    nulls = {
        "w": "bigint", "df": "bigint", "nt": "bigint", "rn": "int",
        "pfx": "boolean", "doc": "bigint", "ts": "array<bigint>",
        "sid": "bigint", "kh": "bigint",
    }

    def shaped(df: DataFrame, kind: str) -> DataFrame:
        cols = [
            (F.col(c) if c in df.columns else F.lit(None).cast(t)).alias(c)
            for c, t in nulls.items()
        ]
        return df.select(F.lit(kind).alias("kind"), *cols)

    member = shaped(
        canon.select("sid", F.explode("members").alias("doc")), "member"
    )
    vocab = shaped(df_, "vocab")
    sets = shaped(
        canon.select("sid", "ts", F.xxhash64("ts").alias("kh")), "set"
    )
    table = (
        shaped(post.drop("kind"), "post")
        .unionByName(member)
        .unionByName(vocab)
        .unionByName(sets)
        # kh-clustered layout (r12 VERDICT #4): range-partition within
        # each kind by the stored content hash and sort files by it, so
        # the append path's pushed-down batch-key filter prunes the set
        # partition on row-group min/max stats. The SECONDARY range key
        # coalesces to each kind's natural id: non-set kinds carry
        # kh = NULL, and ranging on (kind, kh) alone sent every
        # post/member/vocab row into ONE slice — one file, one reader
        # task (measured: the persisted probe's sf10 wall regressed
        # 17.4 → 23.6 s before the coalesce; re-measured at par after)
        .repartitionByRange(
            F.col("kind"), F.coalesce("kh", "sid", "w")
        )
        .sortWithinPartitions("kh")
    )
    try:
        return write_version(
            table, root, partition_by=["kind"],
            writer_options={"parquet.block.size": _INDEX_BLOCK_BYTES},
        )
    finally:
        canon.unpersist()


# Row-group size for the containment index's version writes: the
# default 128 MB leaves the kh-clustered set partition with row groups
# too coarse for a micro-batch's pushed-down key filter to prune
# (SCALE.md §r13). 4 MB groups measured the append's restriction stage
# 0.481 -> 0.185 s at sf10 (92 keys) with the probe itself unregressed
# (5.42 -> 5.12 s) — a pure win at the measured point, the deployment
# lever the switch-point table promised.
_INDEX_BLOCK_BYTES = str(1 << 22)


# Batch-key count above which the append's content match switches from
# a pushed-down literal IN filter (row-group pruning: IO bounded by the
# batch — the streaming micro-batch shape) to a broadcast join on the
# stored kh (one full 8-byte-column scan, no re-hash — the bulk-ingest
# shape): a plan carrying tens of thousands of literals costs more to
# build and evaluate than the pruning saves (measured at sf10 with the
# shipped 4 MB row groups: 92-key batch's restriction stage 0.185 s vs
# the re-hash's 0.63 s — 3.4x, re-hash-free; 21k-key batch 2.3x SLOWER
# end-to-end — SCALE.md §r13).
_KH_PUSHDOWN_MAX = 4096


def append_containment_index(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 8,
    t_den: int = 10,
    tag: str | None = None,
    use_stored_kh: bool = True,
) -> str:
    """BATCH-BOUNDED refresh of a ``persist_containment_index`` table
    (round 12 — completes the amortization story: the probe was already
    batch-bounded, but refresh-by-rebuild re-ranked and REWROTE the
    whole corpus per accepted batch): publish a DELTA version
    (sinks/versioned.py::append_version — new files + one atomic
    pointer swap; the write cost is the delta, never the table) that

    * adds the batch's genuinely NEW distinct shingle sets, their
      postings ranked under the index's PERMANENTLY FROZEN v1 (df, w)
      order (the vocab partition is never extended — unseen shingles
      rank at df = 0 forever, which is a fixed total order, so the
      prefix theorem keeps every FUTURE probe lossless; pruning quality
      drifts with corpus drift, losslessness does not);
    * maps EVERY batch doc into the member partition — docs whose exact
      shingle array already exists anywhere in the chain join that
      existing sid (content dedup at the index itself), the rest join
      their new set.

    Work audit: batch canonicalization (batch-bounded groupBy), one
    ts-equality join against the chain's SET partition (set-count
    postings never rescanned), frozen-df lookup for the new sets' keys
    (broadcast-semi-restricted vocab scan), rank windows over new-set
    postings only. Nothing corpus-scale is shuffled, ranked, or
    rewritten. Returns the published version name.

    ``tag`` (optional) is published atomically with the delta
    (sinks/versioned.py chain_tags) — an at-least-once caller (e.g.
    foreachBatch, ADVICE r12) keys acceptance on its batch id and
    skips replays whose tag is already on the chain.

    ``use_stored_kh=False`` forces the legacy full-scan content match
    (the r12 shape) even on a kh-native chain — the A/B lever for the
    r12 VERDICT #4 measurement; results are identical either way."""
    from itdb_spark.plans.library import truncate_lineage
    from itdb_spark.sinks.versioned import (
        append_version,
        read_current_chain,
    )

    table = read_current_chain(spark, root)
    idx_vocab = table.where(F.col("kind") == "vocab").select("w", "df")
    # eager lineage truncation instead of .cache() (r14, the probe's
    # convention applied to the append leg): braw/bcanon are nested,
    # multiply-referenced, batch-bounded intermediates — the cached
    # form re-analyzed the whole composed subtree per reference
    # (interleaved A/B over lockstep chains: append wall medians
    # 3.88 → 3.62 s at sf0.1, every round after warmup faster).
    # r15: batch shingle sets built in-row (shingle_set_col), no
    # explode→groupBy(doc) exchange per micro-batch.
    braw = truncate_lineage(
        doc_shingle_sets(batch, id_col, text_col)
        .groupBy("ts")
        .agg(F.min("doc").alias("bsid"), F.collect_list("doc").alias("members"))
        .withColumn("kh", F.xxhash64("ts")),
        eager=True,
    )
    # ts-equality match against the chain's sets, batch-bounded on BOTH
    # join sides (matched rows ⊆ batch sets up to 2^-64 kh collisions,
    # which the full-ts equi-join below eliminates exactly — a naive
    # join on the array key would shuffle every set's shingle array per
    # append). r12 VERDICT #4: when a chain dir STORES kh, the batch's
    # distinct content hashes — a batch-bounded driver list — are
    # pushed into the parquet scan as a literal IN filter: with the
    # kh-clustered layout the scan's IO is bounded by the row groups
    # the batch actually touches, and the corpus's ts arrays are
    # neither read nor re-hashed.
    #
    # r13 ADVICE (medium): set rows whose STORED kh is NULL — a pre-kh
    # dir surfacing through allowMissingColumns, or a compact_chain
    # fold that merged a legacy base under a kh-bearing schema — would
    # never match the IN pushdown or the kh broadcast join, so
    # content-identical batch sets would be misclassified is_new_set
    # and republished under new sids. The hybrid below matches stored
    # (non-NULL) kh on the fast path and re-hashes ONLY the NULL-kh
    # rows; on a fully-native chain the NULL branch's IsNull(kh)
    # filter prunes every row group via parquet null_count stats, so
    # the hybrid costs nothing where the hazard is absent. The gate is
    # the union schema read_current_chain already computed — no
    # per-dir footer reads (r13 ADVICE, low: the old all-dirs schema
    # walk opened O(chain) parquet readers per micro-batch).
    native_kh = use_stored_kh and "kh" in table.columns
    if native_kh:
        stored = table.where(
            (F.col("kind") == "set") & F.col("kh").isNotNull()
        )
        bkh = [r["kh"] for r in braw.select("kh").distinct().collect()]
        if len(bkh) <= _KH_PUSHDOWN_MAX:
            # micro-batch shape: literal IN filter reaches the parquet
            # scan (PushedFilters: In(kh, ...)), so with the
            # kh-clustered 4 MB-row-group layout the scan decodes only
            # the batch's row groups and nothing is re-hashed
            # (restriction stage measured 0.185 s vs the re-hash's
            # 0.63 s at sf10 — SCALE.md §r13)
            kh_pred = F.col("kh").isin(bkh) if bkh else F.lit(False)
            matched = stored.where(kh_pred).select(
                F.col("sid").alias("esid"), "ts", "kh"
            )
        else:
            # bulk-batch shape: a 21k-literal plan costs more than it
            # prunes (measured 2.3x WORSE end-to-end at sf10);
            # broadcast-join on the STORED kh instead — same full
            # set-partition read as the legacy path but no per-row
            # re-hash of the corpus's shingle arrays
            matched = stored.select(
                F.col("sid").alias("esid"), "ts", "kh"
            ).join(F.broadcast(braw.select("kh").distinct()), "kh")
        legacy_rows = (
            table.where((F.col("kind") == "set") & F.col("kh").isNull())
            .select(F.col("sid").alias("esid"), "ts")
            .withColumn("kh", F.xxhash64("ts"))
            .join(F.broadcast(braw.select("kh").distinct()), "kh")
            .select("esid", "ts", "kh")
        )
        # one esid per content (min over the union): on a healthy chain
        # each (kh, ts) has exactly one set row so this is a no-op, but
        # a chain DAMAGED by the pre-hybrid gate (the same ts published
        # under both a NULL-kh legacy sid and a misclassified kh-bearing
        # sid) would otherwise match BOTH esids and fan each batch doc
        # out to two member rows — the min-esid fold makes recovery
        # deterministic instead of amplifying the damage
        idx_restricted = (
            matched.select("esid", "ts", "kh")
            .unionByName(legacy_rows)
            .groupBy("kh", "ts")
            .agg(F.min("esid").alias("esid"))
        )
    else:
        idx_sets = table.where(F.col("kind") == "set").select(
            F.col("sid").alias("esid"), "ts"
        )
        idx_restricted = (
            idx_sets.withColumn("kh", F.xxhash64("ts"))
            .join(F.broadcast(braw.select("kh").distinct()), "kh")
            # same min-esid fold as the hybrid path, so the forced
            # legacy twin stays row-identical on damaged chains too
            .groupBy("kh", "ts")
            .agg(F.min("esid").alias("esid"))
        )
    bcanon = truncate_lineage(
        braw.join(idx_restricted, ["kh", "ts"], "left")
        .select(
            F.coalesce("esid", "bsid").alias("sid"),
            F.col("esid").isNull().alias("is_new_set"),
            "ts",
            "members",
            "kh",
        ),
        eager=True,
    )
    new_sets = bcanon.where("is_new_set")
    n_sh = new_sets.select("sid", F.explode("ts").alias("w"))
    nkeys = n_sh.select("w").distinct()
    ndf = idx_vocab.join(F.broadcast(nkeys), "w")
    post = (
        n_sh.join(F.broadcast(ndf), "w", "left")
        .na.fill(0, ["df"])
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("sid").orderBy("df", "w")),
        )
        .withColumn("nt", F.count("*").over(Window.partitionBy("sid")))
        .withColumn(
            "pfx",
            F.col("rn")
            <= F.col("nt")
            - F.expr(f"({t_num} * nt + {t_den - 1}) DIV {t_den}")
            + 1,
        )
    )
    nulls = {
        "w": "bigint", "df": "bigint", "nt": "bigint", "rn": "int",
        "pfx": "boolean", "doc": "bigint", "ts": "array<bigint>",
        "sid": "bigint", "kh": "bigint",
    }

    def shaped(df: DataFrame, kind: str) -> DataFrame:
        cols = [
            (F.col(c) if c in df.columns else F.lit(None).cast(t)).alias(c)
            for c, t in nulls.items()
        ]
        return df.select(F.lit(kind).alias("kind"), *cols)

    delta = (
        shaped(post, "post")
        .unionByName(
            shaped(
                bcanon.select("sid", F.explode("members").alias("doc")),
                "member",
            )
        )
        # the delta's set rows carry their stored kh too, so every
        # future append keeps the pushed-down fast path (native_kh)
        .unionByName(shaped(new_sets.select("sid", "ts", "kh"), "set"))
        .sortWithinPartitions("kh")
    )
    # braw/bcanon are checkpoint leaves now — nothing to unpersist;
    # their blocks are reclaimed by the ContextCleaner once the frames
    # (and `delta`, which references them) are GC'd after the publish
    # below returns. r14 ADVICE flagged possible accumulation between
    # GC cycles in 100+-query sessions; LEAKCHECK has shown 0 growth
    # across the full single-session gate, so deterministic cleanup is
    # deliberately not re-added (an explicit unpersist before the
    # publish would recompute the delta).
    return append_version(
        delta, root, partition_by=["kind"], tag=tag,
        writer_options={"parquet.block.size": _INDEX_BLOCK_BYTES},
    )


def containment_probe_persisted(
    spark: SparkSession,
    index_root: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 8,
    t_den: int = 10,
) -> DataFrame:
    """``containment_join_incremental`` against a
    ``persist_containment_index`` table: exactly the containment >= t
    pairs touching ``batch`` over (index corpus ∪ batch), with per-call
    work bounded by the BATCH — the amortized serving shape. Batch doc
    ids must be disjoint from the indexed corpus's (the incremental
    ingest convention).

    The whole probe runs at DISTINCT-SET level on both sides — the
    index is persisted canonicalized, the batch canonicalizes itself
    per call (batch-bounded groupBy) — so candidate volume scales with
    distinct content, never duplication depth (hazard class 3; the
    per-doc draft of this probe measured SLOWER than the rebuild at
    sf0.1, 7.1 s vs 5.0 s, because the corpus's ~3x duplication
    multiplied pair generation ~9x).

    Per-call cost audit (the 100 TB claim): batch sets rank themselves
    under the index's frozen order (df looked up by counting index
    postings of the batch's OWN shingle keys — a broadcast-semi-
    restricted scan, no corpus shuffle; unseen shingles take df = 0);
    probe 1 joins batch-set prefixes against the full posting index,
    probe 2 joins the index's PERSISTED prefix rows against the batch's
    postings (batch side broadcasts, index side streams map-side — no
    corpus-scale exchange); the PPJoin positional bound prunes with the
    persisted (nt, rn); verification reconstructs shingle arrays for
    CANDIDATE index sets only (broadcast-semi-restricted) and runs once
    per qualifying SET pair; member expansion joins the kind='member'
    partition semi-restricted to qualifying sids. Old x old pairs are
    generated by neither probe (the containment_join_incremental case
    split); identical-content batch pairs are emitted arithmetically
    from the batch's own canon members, and batch sets identical to an
    index set flow through the candidate machinery (a shared prefix
    shingle always exists). Losslessness under the frozen order is
    argued at ``persist_containment_index``; the output is therefore
    SET-identical to the rebuild form (gated in tests/test_wave12.py).
    """
    from itdb_spark.plans.library import materialized, truncate_lineage
    from itdb_spark.sinks.versioned import read_current_chain

    table = read_current_chain(spark, index_root)
    idx = table.where(F.col("kind") == "post").select(
        "sid", "w", "df", "nt", "rn", "pfx"
    )
    idx_members = table.where(F.col("kind") == "member").select("sid", "doc")
    idx_vocab = table.where(F.col("kind") == "vocab").select("w", "df")
    idx_sets = table.where(F.col("kind") == "set").select("sid", "ts")
    # Batch-bounded intermediates TRUNCATE LINEAGE (eager localCheckpoint)
    # instead of .cache(): a cached frame's full logical subtree is
    # re-analyzed at every reference, and this probe references bcanon /
    # branked / cand / all_ts 3-6 times each with each later frame
    # CONTAINING the earlier ones — the composed tree grows near-
    # exponentially and the r14 stage profile measured a 1.5 s driver
    # planning gap per call (the bulk of the fixed-batch table's ~1.6 s
    # empty-batch constant). Checkpointing makes each intermediate a leaf
    # scan: small trees to plan, same single materialization per frame,
    # and every checkpointed frame is batch/candidate-bounded — the
    # corpus-scale posting/member partitions still stream map-side, so
    # the 100 TB shape is unchanged (guide §1.2: fix the constant only
    # after the dataflow is right; §3.3: materialize to truncate plans).
    # r15: batch shingle sets built in-row (shingle_set_col), no
    # explode→groupBy(doc) exchange per probe.
    bcanon = truncate_lineage(
        doc_shingle_sets(batch, id_col, text_col)
        .groupBy("ts")
        .agg(
            F.min("doc").alias("sid"),
            F.sort_array(F.collect_list("doc")).alias("members"),
        )
    )
    b_sh = bcanon.select("sid", "ts", F.explode("ts").alias("w"))
    # batch ranks under the index's frozen order: df(w) := the PERSISTED
    # distinct-set frequency, read off the vocab partition with one
    # map-side key join (batch keys broadcast); LEFT join so
    # never-indexed shingles take df = 0
    bkeys = b_sh.select("w").distinct()
    bdf = idx_vocab.join(F.broadcast(bkeys), "w")
    branked = (
        b_sh.select("sid", "w")
        .join(F.broadcast(bdf), "w", "left")
        .na.fill(0, ["df"])
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("sid").orderBy("df", "w")),
        )
        .withColumn("nt", F.count("*").over(Window.partitionBy("sid")))
        .withColumn(
            "pfx",
            F.col("rn")
            <= F.col("nt")
            - F.expr(f"({t_num} * nt + {t_den - 1}) DIV {t_den}")
            + 1,
        )
    )
    # three appearances in the candidate plan (probe1's prefix side,
    # probe1's index side via the union, probe2's batch side) — the
    # checkpoint both materializes the rank windows once and keeps the
    # three references leaf-sized in the composed plan
    branked = truncate_lineage(branked)
    small_side = (F.col("a.nt") < F.col("b.nt")) | (
        (F.col("a.nt") == F.col("b.nt")) & (F.col("a.sid") < F.col("b.sid"))
    )
    pair_cols = [
        F.least(F.col("a.sid"), F.col("b.sid")).alias("s1"),
        F.greatest(F.col("a.sid"), F.col("b.sid")).alias("s2"),
        (
            F.lit(1)
            + F.least(F.col("a.nt") - F.col("a.rn"), F.col("b.nt") - F.col("b.rn"))
        ).alias("ub"),
        F.expr(f"({t_num} * a.nt + {t_den - 1}) DIV {t_den}").alias("req"),
    ]
    idx_posting = idx.select("sid", "w", "nt", "rn")
    b_posting = branked.select("sid", "w", "nt", "rn")
    # probe 1: batch-set prefixes x full posting index (old ∪ batch) —
    # covers every qualifying set pair whose SMALL side is new (incl.
    # new x new); probe 2: persisted old prefixes x batch postings —
    # covers small-old x new. Old x old pairs arise from neither. The
    # batch side BROADCASTS in both probes, so the corpus-scale posting
    # partition streams map-side — candidate generation has no
    # corpus-sized exchange at all (a giant batch sub-batches, the
    # standard serving split).
    probe1 = (
        F.broadcast(branked.where("pfx")).alias("a")
        .join(idx_posting.unionByName(b_posting).alias("b"), "w")
        .where(small_side)
        .select(*pair_cols)
    )
    probe2 = (
        idx.where("pfx").select("sid", "w", "nt", "rn").alias("a")
        .join(F.broadcast(b_posting).alias("b"), "w")
        .where(small_side)
        .select(*pair_cols)
    )
    cand = (
        probe1.unionByName(probe2)
        .groupBy("s1", "s2")
        .agg(F.max("ub").alias("ub"), F.max("req").alias("req"))
        .where(F.col("ub") >= F.col("req"))
        .select("s1", "s2")
    )
    # three consumers below (sid extraction + two verification joins) —
    # unmaterialized, the whole candidate-generation subtree would
    # execute three times (measured +3 s at sf0.1)
    cand = truncate_lineage(cand)
    # verification: candidate INDEX sets' arrays are READ off the 'set'
    # partition, map-side semi-restricted by the broadcast sid set — no
    # reconstruction shuffle (batch sets carry their arrays already);
    # exact intersection once per candidate set pair.
    cand_sids = (
        cand.select(F.explode(F.array("s1", "s2")).alias("sid")).distinct()
    )
    all_ts = (
        idx_sets.join(F.broadcast(cand_sids), "sid")
        .unionByName(bcanon.select("sid", "ts"))
        .select("sid", "ts", F.size("ts").cast("long").alias("n"))
        # two verification joins consume it — cache so the scan + union
        # computes once
        .cache()
    )
    # all_ts is candidate-SET-bounded (arrays for ~2 sets per pair max)
    # — broadcast it so the 100x-larger candidate-pair frame never
    # shuffles its rows (with arrays attached) through two joins
    qual = (
        cand.join(
            F.broadcast(
                all_ts.select(
                    F.col("sid").alias("s1"), F.col("ts").alias("ts1"),
                    F.col("n").alias("n1"),
                )
            ),
            "s1",
        )
        .join(
            F.broadcast(
                all_ts.select(
                    F.col("sid").alias("s2"), F.col("ts").alias("ts2"),
                    F.col("n").alias("n2"),
                )
            ),
            "s2",
        )
        .select(
            "s1",
            "s2",
            F.size(F.array_intersect("ts1", "ts2")).cast("long").alias("inter"),
            F.least("n1", "n2").alias("small"),
        )
        .where(t_den * F.col("inter") >= t_num * F.col("small"))
    )
    # member expansion: every cross pair has one side in the batch
    # (probe construction) and batch/index doc ids are disjoint, so all
    # cross pairs touch the increment by construction. The member map is
    # corpus-scale — restrict it to candidate sids FIRST (map-side, via
    # the broadcast sid set) so the expansion joins shuffle
    # candidate-bounded rows, never the whole corpus's membership.
    b_members = bcanon.select("sid", F.explode("members").alias("doc"))
    members = idx_members.unionByName(b_members).join(
        F.broadcast(cand_sids), "sid"
    )
    cross = (
        qual.join(
            members.select(F.col("sid").alias("s1"), F.col("doc").alias("d1")),
            "s1",
        )
        .join(
            members.select(F.col("sid").alias("s2"), F.col("doc").alias("d2")),
            "s2",
        )
        .select(
            F.least("d1", "d2").alias("id1"),
            F.greatest("d1", "d2").alias("id2"),
            "inter",
            "small",
        )
    )
    # identical-content pairs INSIDE one batch canon set (new x new,
    # containment 1 by definition), emitted arithmetically in-row over
    # the doc-sorted members (ordered pairs for free); the index's
    # internal same-set pairs are old x old and excluded.
    same = (
        bcanon.where(F.size("members") >= 2)
        .select(
            F.size("ts").cast("long").alias("n"),
            F.explode(
                F.expr(
                    "flatten(transform(members, (d1, i) -> "
                    "transform(slice(members, i + 2, size(members)), "
                    "d2 -> struct(d1, d2))))"
                )
            ).alias("p"),
        )
        .select(
            F.col("p.d1").alias("id1"),
            F.col("p.d2").alias("id2"),
            F.col("n").alias("inter"),
            F.col("n").alias("small"),
        )
    )
    out = cross.unionByName(same).select(
        "id1",
        "id2",
        "inter",
        "small",
        F.expr("CAST(1000 * inter DIV small AS BIGINT)").alias("contain_milli"),
    )
    return materialized(out, bcanon, branked, cand, all_ts)

def duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
) -> DataFrame:
    """(doc_id, n_spans, dup_tokens, max_span_len, first_span_start):
    exact-substring duplicate-span detection (the ExactSubstr dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better") at token granularity: a token span is DUPLICATED when the
    ``min_len``-gram starting there occurs >= 2 times in the whole corpus
    (within-document repeats count, as in the paper's suffix-array
    criterion). Overlapping duplicated grams are consolidated into
    MAXIMAL disjoint spans — interval union, so ``dup_tokens`` is the
    exact number of tokens lying inside any duplicated region, the
    quantity a span-removal pass would delete. Documents with no
    duplicated span produce no row.

    The reference dedups whole files by content fingerprint
    (dupes/dedup.py:127-143); this is the sub-document generalization a
    training corpus needs — boilerplate headers/footers and quoted
    passages duplicate spans without duplicating files.

    Scale shape (100 TB): the suffix array of the paper is replaced by
    three bounded shuffles — (1) gram-frequency groupBy, whose map-side
    partial aggregation collapses boilerplate grams BEFORE the exchange
    (a gram occurring 10^8 times ships one partial count per input
    partition, not 10^8 rows); (2) a hash join of gram-positions against
    the (much smaller) duplicated-gram table; (3) one groupBy(doc)
    collecting the matched positions, after which span consolidation is
    pure per-row array arithmetic bounded by each document's own length.
    No window over the gram table, so a hot gram never serializes into
    one partition's sort. Gram hashing reuses the posexplode discipline
    of winnow_fingerprints (dedup.py:526) to keep md5 evaluation at one
    per gram under projection collapse."""
    iv = duplicate_span_intervals(docs, id_col, text_col, min_len)
    lens = F.zip_with("starts", "ends", lambda s, e: e - s + F.lit(min_len))
    return iv.select(
        "doc_id",
        F.size(lens).cast("long").alias("n_spans"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("dup_tokens"),
        F.array_max(lens).cast("long").alias("max_span_len"),
        F.element_at(F.col("starts"), 1).cast("long").alias("first_span_start"),
    )


def duplicate_span_intervals(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
) -> DataFrame:
    """(doc_id, starts, ends): the maximal duplicated regions underlying
    duplicate_spans, as parallel arrays of GRAM positions — region i
    covers tokens [starts[i], ends[i] + min_len - 1]. Shared by the
    dedup-span stats query and remove_duplicate_spans (the despan
    rewrite). Only documents with at least one duplicated gram appear."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    kg = (
        docs.select(F.col(id_col).alias("doc"), toks.alias("t"))
        .where(F.size("t") >= min_len)
        .select(
            "doc",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t)-{min_len - 1}),"
                    f" i -> concat_ws(' ', slice(t, i, {min_len})))"
                )
            ).alias("pos0", "g"),
        )
        .select(
            "doc",
            (F.col("pos0") + 1).alias("pos"),
            portable_hash64(F.col("g")).alias("h"),
        )
    )
    dup_grams = (
        kg.groupBy("h").agg(F.count("*").alias("cnt")).where(F.col("cnt") >= 2)
    )
    positions = (
        kg.join(dup_grams.select("h"), "h")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.array_sort(F.collect_list("pos")).alias("p"))
    )
    # Interval union of [pos, pos+L-1] grams: a new maximal span starts
    # where the gap to the previous duplicated gram exceeds L (lazy CASE
    # branches keep array indexing in-bounds under ANSI mode).
    starts = F.expr(
        "filter(transform(sequence(0, size(p)-1),"
        " i -> CASE WHEN i = 0 THEN p[i]"
        f"      WHEN p[i] - p[i-1] > {min_len} THEN p[i] END),"
        " x -> x IS NOT NULL)"
    )
    ends = F.expr(
        "filter(transform(sequence(0, size(p)-1),"
        " i -> CASE WHEN i = size(p)-1 THEN p[i]"
        f"      WHEN p[i+1] - p[i] > {min_len} THEN p[i] END),"
        " x -> x IS NOT NULL)"
    )
    return positions.select(
        "doc_id", starts.alias("starts"), ends.alias("ends")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed): the despan REWRITE —
    the actual deliverable of exact-substring dedup: every token inside
    a duplicated region (duplicate_span_intervals) is deleted and the
    survivors re-join with single spaces (whitespace is normalized; the
    token stream, not the byte stream, is the unit of removal, as in
    Lee et al.'s span-excision pass). Documents with no duplicated span
    pass through with their token stream intact. Left join against the
    interval table + per-row array arithmetic — membership cost is
    O(n_tokens · n_spans) per doc, both bounded by the doc itself."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    iv = duplicate_span_intervals(docs, id_col, text_col, min_len)
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    j = base.join(iv, "doc_id", "left")
    kept = F.expr(
        "CASE WHEN starts IS NULL THEN t ELSE "
        "filter(transform(sequence(1, size(t)), j -> "
        "  CASE WHEN array_max(zip_with(starts, ends, (s, e) -> "
        f"    CASE WHEN j >= s AND j <= e + {min_len - 1} THEN 1 ELSE 0 END)) = 1 "
        "  THEN NULL ELSE t[j-1] END), x -> x IS NOT NULL) END"
    )
    return j.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("long").alias("n_removed"),
    )
