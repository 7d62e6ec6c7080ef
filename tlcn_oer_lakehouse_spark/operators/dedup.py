"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine. The scale-path family a 100 TB training-data pipeline
needs; the reference only has exact-fingerprint incremental dedup
(transformer.py:310-337 record_fingerprint + W1 latest-wins window).

All operators are DataFrame→DataFrame compositions of built-in functions —
hashing via md5 expressions (portable: the same signatures are computable
in any engine, so every operator is oracle-verifiable), aggregation via
hash-agg, candidate generation via equi-joins on hash buckets.

Scale design:
- exact:   one groupBy(fingerprint) shuffle; fingerprints are uniformly
           distributed so no skew.
- minhash: explode(shingles) → groupBy(doc) [shuffle 1] → explode(bands)
           → self-join on (band, band_hash) [shuffle 2, bucket-sized] →
           verify only candidates. Never all-pairs.
- simhash: one groupBy(doc) for the signature; candidates come from a
           pigeonhole equi-join on (segment_no, segment_value), then an
           exact Hamming filter.  Never all-pairs.
- ngram-jaccard: exact verify path; pairs come from a shared-shingle
           equi-join, not a cross join.
- prefix-filter: exact Jaccard; candidates from an equi-join on
           prefix shingles plus the PPJoin positional filter.
- embedding: sign-band equi-join, then the exact cosine filter; the
           all-pairs form is the correctness baseline only.

Each stage exists once and the batch and incremental (O(delta) ingest)
forms compose it: :func:`minhash_signatures`, ``_band_rows`` and
``_band_pairs`` (LSH banding and the band self-join), ``_prefix_pairs``
(prefix-filter candidates), ``_with_candidates`` (standing-side
semi-join) and :func:`jaccard_verify_arrays` (exact verify).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import fingerprint, shingles, tokens
from tlcn_oer_lakehouse_spark.functions.vectors import cosine


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content fingerprint: one row per duplicate group with
    the canonical (minimum) id, member list, and group size."""
    return (
        df.select(F.col(id_col).alias("member_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("member_id").alias("canonical_id"),
            F.sort_array(F.collect_list("member_id")).alias("member_ids"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


# Affine universal-hash family over one md5 base hash:
#   h_i(s) = (A_i * base(s) + B_i) mod P,  base(s) = int(md5(s)[0:8], 16)
# One md5 per shingle instead of num_hashes md5s; the affine step is
# integer codegen.  P = 2^31-1 keeps every product < 2^63 (A_i < 2^17,
# base < 2^32).  Portable: the same arithmetic runs in any SQL engine.
MINHASH_P = 2_147_483_647


def _minhash_a(i: int) -> int:
    return i * 4097 + 1


def _minhash_b(i: int) -> int:
    return i * 12289


def _base_hash(shingle: Column) -> Column:
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long")


def _persist(_key: str, frame: DataFrame) -> DataFrame:
    """Default ``persist`` callback: (key, frame) -> persisted frame.
    Registry callers pass a persist_replacing partial so a long-lived
    session holds at most ONE live cached copy of each corpus-sized
    frame per query; streaming callers pass a tracking callback that
    unpersists at the end of each micro-batch."""
    return frame.persist()


def minhash_doc_arrays(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Per-doc distinct shingle ARRAYS: (doc, tok_arr) — UNFILTERED.
    The array-form shared intermediate of the minhash pipeline: one
    tokenize→shingle→distinct pass per document, no explode, no
    shuffle.  Callers persist this frame and filter empties FROM THE
    CACHE with :func:`_nonempty`: a ``filter(size(tok_arr) > 0)`` placed
    below the persist gets pushed under the projection by Catalyst and
    re-evaluates the whole array expression a second time per row in
    the Filter node (measured 1.3 s → 8.3 s at sf0.1 — shingles()
    contains lambda expressions, which fall back to interpreted
    evaluation)."""
    arr = F.array_distinct(shingles(tokens(F.col(text_col)), shingle_n))
    return df.select(F.col(id_col).alias("doc"), arr.alias("tok_arr"))


def _nonempty(doc_arrays: DataFrame) -> DataFrame:
    """(doc, tok_arr, n_shingles) for docs with at least one shingle;
    filter and size evaluate against the cached ``tok_arr`` column."""
    return doc_arrays.filter(F.size("tok_arr") > 0).select(
        "doc", "tok_arr", F.size("tok_arr").alias("n_shingles")
    )


def minhash_signatures(docs_arr: DataFrame, num_hashes: int) -> DataFrame:
    """Per-document MinHash signature (doc, h0..h{num_hashes-1}) of a
    (doc, tok_arr) frame: shingles explode from the cached array frame,
    one codegen'd md5 base hash per shingle, then a map-side-combined
    min aggregate of the affine family (higher-order per-element
    hashing measured slower: lambdas evaluate interpreted)."""
    sh = docs_arr.select("doc", F.explode("tok_arr").alias("shingle")).select(
        "doc", _base_hash(F.col("shingle")).alias("bh")
    )
    return sh.groupBy("doc").agg(
        *[
            F.min((F.col("bh") * _minhash_a(i) + _minhash_b(i)) % MINHASH_P).alias(
                f"h{i}"
            )
            for i in range(num_hashes)
        ]
    )


def _band_rows(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """LSH banding: (doc, band_no, band_hash), one row per band of
    ``num_hashes // bands`` signature rows."""
    rows = num_hashes // bands
    structs = [
        F.struct(
            F.lit(b).alias("band_no"),
            F.md5(F.concat_ws(",", *[F.col(f"h{b * rows + r}") for r in range(rows)])).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sigs.select("doc", F.explode(F.array(*structs)).alias("band")).select(
        "doc", "band.band_no", "band.band_hash"
    )


def _band_pairs(probe: DataFrame, build: DataFrame, pair_cond: Column) -> DataFrame:
    """Distinct canonical (doc_a < doc_b) pairs of docs sharing a
    (band_no, band_hash) bucket — an equi-join, never a cross product.
    ``pair_cond`` relates the probe side ``a.doc`` to the build side
    ``b.doc``: ``<`` for a self-join, ``!=`` when a batch probes the
    batch ∪ standing bands (each batch×batch pair then arrives in both
    orientations and collapses in the canonical dropDuplicates)."""
    a, b = F.col("a.doc"), F.col("b.doc")
    return (
        probe.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & pair_cond,
        )
        .select(F.least(a, b).alias("doc_a"), F.greatest(a, b).alias("doc_b"))
        .dropDuplicates()
    )


def minhash_lsh_candidate_pairs(
    sigs: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes // bands`` rows, hash each band, and equi-join documents
    sharing any band hash. Returns distinct (doc_a, doc_b) with
    doc_a < doc_b. The join key is (band_no, band_hash) — bucket-sized,
    never a cross product."""
    banded = _band_rows(sigs, num_hashes, bands)
    return _band_pairs(banded, banded, F.col("a.doc") < F.col("b.doc"))


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Exploded distinct shingles per document: (doc, shingle, bh) where
    bh is the md5 base hash — the exploded shared intermediate of the
    prefix-filter operators, and the reference form the array pipeline
    is pinned against."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), shingle_n))
        ).alias("shingle"),
    ).withColumn("bh", _base_hash(F.col("shingle")))


def _doc_freq(sh: DataFrame) -> DataFrame:
    """(shingle, df): the number of documents holding each shingle."""
    return sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))


def jaccard_verify_from(
    sh: DataFrame, pairs: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs:
    |A∩B| via a shared-shingle join, |A∪B| = |A|+|B|-|A∩B|. Integer
    counts → double division: deterministic.  ``sh`` is a (doc, shingle)
    DataFrame, ideally persisted by the caller.  ``sizes`` (doc,
    n_shingles) may be supplied when the caller already aggregated per
    doc (e.g. alongside minhash signatures) — saves one wide shuffle
    over the shingle table."""
    if sizes is None:
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard"),
        )
    )


def jaccard_verify_arrays(pairs: DataFrame, docs_arr: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-pair array intersection:
    two doc-keyed equi-joins fetch the distinct-shingle arrays and
    |A∩B| is a map-side ``array_intersect`` — no exploded-row fan-out
    joins, no per-pair aggregation shuffle.  Value-identical to
    :func:`jaccard_verify_from` (same distinct sets, same integer
    counts, same double division).  ``docs_arr`` must carry
    (doc, tok_arr, n_shingles)."""
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        pairs.join(
            docs_arr.select(
                F.col("doc").alias("doc_a"),
                F.col("tok_arr").alias("ta"),
                F.col("n_shingles").alias("na"),
            ),
            "doc_a",
        )
        .join(
            docs_arr.select(
                F.col("doc").alias("doc_b"),
                F.col("tok_arr").alias("tb"),
                F.col("n_shingles").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("na") + F.col("nb") - inter)).alias("jaccard"),
        )
    )


def _with_candidates(batch: DataFrame, standing: DataFrame, cand: DataFrame) -> DataFrame:
    """``batch`` ∪ the ``standing`` rows of docs that appear in a
    candidate pair — the incremental verify fetches standing-side arrays
    for the collision set only (semi-join pruned), never the corpus."""
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    return batch.unionByName(standing.join(cand_docs, "doc", "leftsemi"))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    persist=None,
    doc_arrays: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: one persisted per-doc array
    frame → :func:`minhash_signatures` → banded candidate pairs →
    per-pair ``array_intersect`` exact verify → threshold filter.

    The tokenize→shingle→distinct pass runs once into the persisted
    array frame; signatures explode FROM THE CACHE, and the verify
    moves one array row per pair side instead of ~|A| skinny rows per
    candidate.  ``doc_arrays`` lets a caller that already persisted the
    :func:`minhash_doc_arrays` frame for the SAME (df, id_col, text_col,
    shingle_n) hand it in, sharing one cache and one tokenize pass
    (dedup_recall_eval's truth side does)."""
    if doc_arrays is None:
        doc_arrays = (persist or _persist)(
            "arr", minhash_doc_arrays(df, id_col, text_col, shingle_n)
        )
    docs_arr = _nonempty(doc_arrays)
    cands = minhash_lsh_candidate_pairs(
        minhash_signatures(docs_arr, num_hashes), num_hashes, bands
    )
    return jaccard_verify_arrays(cands, docs_arr).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup: candidates = pairs sharing ≥1
    RARE shingle (document frequency ≤ ``max_df``), then exact Jaccard
    over the FULL shingle sets.

    The df cap is the skew guard: without it, one stop-phrase shingle
    shared by 10⁶ docs produces ~10¹² candidate rows on that single join
    key (quadratic in the hot key's df).  Capping df bounds per-key
    candidate fan-out at max_df², and standard practice (Lee et al. 2022
    "Deduplicating Training Data", SlimPajama) drops shingles appearing
    in more than ~100 docs — a pair sharing ONLY ubiquitous shingles is
    overwhelmingly below any useful Jaccard threshold anyway.  The exact
    verify step still uses every shingle, so reported Jaccard values are
    uncapped; only candidate *generation* is df-limited.

    The persisted intermediate is the per-doc distinct-shingle ARRAY
    frame; the df aggregate and the rare-shingle pairing explode FROM
    THE CACHE (they genuinely need exploded rows), and the verify is
    :func:`jaccard_verify_arrays`."""
    docs_arr = _nonempty(minhash_doc_arrays(df, id_col, text_col, shingle_n).persist())
    sh = docs_arr.select("doc", F.explode("tok_arr").alias("shingle"))
    rare = _doc_freq(sh).filter(F.col("df") <= max_df).select("shingle")
    sh_rare = sh.join(rare, "shingle")
    pairs = (
        sh_rare.alias("a")
        .join(
            sh_rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates()
    )
    return jaccard_verify_arrays(pairs, docs_arr).filter(
        F.col("jaccard") >= threshold
    )


def _tau_fraction(threshold: float) -> tuple[int, int]:
    """EXACT-RATIONAL threshold (ADVICE r9): the prefix length n−⌈τn⌉+1
    and the PPJoin required overlap ⌈τ/(1+τ)·(na+nb)⌉ must never round
    the wrong way — a float ⌈0.55·n⌉ whose double product lands just
    above an exact integer overshoots the ceil, shortening the prefix
    and silently breaking the EXACT guarantee.  τ is therefore read as
    the decimal the caller wrote (Fraction of its shortest repr, e.g.
    0.55 → 11/20) and every ceil becomes integer ceil-division
    ((p·n + q − 1) div q) — pure BIGINT arithmetic on both sides of
    every comparison, no float ever touches a bound."""
    from fractions import Fraction

    tau_f = Fraction(str(float(threshold)))
    if not 0 < tau_f <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    p, q = tau_f.numerator, tau_f.denominator
    if q > 1_000_000:
        raise ValueError(
            f"threshold {threshold} has no short exact decimal form "
            f"(denominator {q}); pass a rounded decimal so the exact "
            f"integer bounds stay within BIGINT range"
        )
    return p, q


def _df_ordered_arrays(sh: DataFrame, freq: DataFrame, how: str = "inner") -> DataFrame:
    """Per-doc shingle arrays (doc, tok_arr, n_shingles) sorted by the
    (df, shingle) global order ``freq`` defines.  ``how='left'`` admits
    shingles absent from ``freq`` at df=0 — rarer than everything
    observed, so a frozen standing-index order extends consistently to
    batch-only tokens (any TOTAL order preserves prefix-filter
    exactness; df-freshness only affects pruning power)."""
    df_key = F.coalesce(F.col("df"), F.lit(0)) if how == "left" else F.col("df")
    return (
        sh.join(freq, "shingle", how)
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(df_key.alias("df"), F.col("shingle").alias("shingle"))
                )
            ).alias("toks")
        )
        .select(
            "doc",
            F.transform("toks", lambda s: s["shingle"]).alias("tok_arr"),
            F.size("toks").alias("n_shingles"),
        )
    )


def _prefix_rows(ordered: DataFrame, p: int, q: int) -> DataFrame:
    """Explode each doc's first n − ⌈p·n/q⌉ + 1 ordered shingles (the
    prefix-filter theorem's window), ceil as integer ceil-division."""
    plen = (
        F.col("n_shingles")
        - F.expr(f"({p}L * n_shingles + {q - 1}) div {q}").cast("int")
        + F.lit(1)
    )
    return ordered.select(
        F.col("doc"),
        F.col("n_shingles"),
        F.posexplode(F.slice("tok_arr", F.lit(1), plen)).alias("pos0", "shingle"),
    )


def _prefix_pairs(
    probe: DataFrame, build: DataFrame, pair_cond: Column, p: int, q: int
) -> DataFrame:
    """Canonical (doc_a < doc_b) candidate pairs from an equi-join of
    :func:`_prefix_rows` frames on prefix shingles, after the length
    filter and the PPJoin positional filter, both in exact integer
    arithmetic.  ``pair_cond`` relates ``a.doc`` to ``b.doc`` as in
    :func:`_band_pairs`; canonicalization swaps sizes and positions
    with their docs, so the pair-level min aggregate stays
    side-consistent when a pair arrives in both orientations."""
    a_n, b_n = F.col("a.n_shingles"), F.col("b.n_shingles")
    lo_is_a = F.col("a.doc") < F.col("b.doc")

    def lo(c: str) -> Column:
        return F.when(lo_is_a, F.col(f"a.{c}")).otherwise(F.col(f"b.{c}"))

    def hi(c: str) -> Column:
        return F.when(lo_is_a, F.col(f"b.{c}")).otherwise(F.col(f"a.{c}"))

    matches = (
        probe.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & pair_cond
            # length filter τ·max ≤ min as cross-multiplied integers:
            # q·na ≥ p·nb ∧ q·nb ≥ p·na
            & (a_n.cast("long") * q >= b_n.cast("long") * p)
            & (b_n.cast("long") * q >= a_n.cast("long") * p),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
            lo("n_shingles").alias("na"),
            hi("n_shingles").alias("nb"),
            (lo("pos0") + 1).alias("ia"),
            (hi("pos0") + 1).alias("jb"),
        )
    )
    return (
        matches.groupBy("doc_a", "doc_b")
        .agg(
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
            F.min("ia").alias("ia"),
            F.min("jb").alias("jb"),
        )
        .filter(
            # required overlap ⌈τ/(1+τ)·(na+nb)⌉ = ⌈p·(na+nb)/(p+q)⌉,
            # again as integer ceil-division
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= F.expr(f"({p}L * (na + nb) + {p + q - 1}) div {p + q}")
        )
        .select("doc_a", "doc_b")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    persist=None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    al. ICDE'06; PPJoin, Xiao et al. WWW'08; distributed form: Vernica
    et al. SIGMOD'10): every pair with Jaccard ≥ τ is returned, with a
    correctness GUARANTEE on candidate generation — unlike
    :func:`ngram_jaccard_pairs`' df-cap heuristic (which bounds skew by
    dropping hot shingles and documents the semantic change) and unlike
    MinHash (probabilistic recall).

    Prefix-filter theorem: order each document's shingles by a global
    total order; if J(A,B) ≥ τ, A and B must share a shingle within
    their first |s| − ⌈τ·|s|⌉ + 1 shingles.  Candidates therefore come
    from an equi-join on PREFIX shingles only, plus the length filter
    τ·max(|A|,|B|) ≤ min(|A|,|B|); the exact Jaccard verify over full
    sets keeps the output identical to all-pairs.

    The global order is ascending document frequency (ties by shingle
    string) — the rarest shingles land in prefixes, which is ALSO the
    skew guard: a stop-phrase shingle shared by 10⁶ docs enters a
    prefix only for documents made of nothing but ubiquitous shingles,
    so the candidate join's per-key fan-out collapses without any
    semantic cap.

    PPJoin POSITIONAL filter (also lossless): because both prefixes are
    sorted by the same global order, a pair's shared tokens appear in
    the same relative order on both sides, so its FIRST prefix-prefix
    match (min position on either side — the same physical token) has
    no shared token before it; the total overlap is therefore at most
    1 + min(|A|−i, |B|−j), and any candidate whose bound falls below
    the Jaccard-required overlap ⌈τ/(1+τ)·(|A|+|B|)⌉ is pruned BEFORE
    the verify.  The pair-level min-position aggregate replaces the
    dropDuplicates shuffle one-for-one (measured at sf0.1: 425k raw
    candidate rows → 170k pairs after the filter).

    Verify is :func:`jaccard_verify_arrays` over the one persisted
    ordered-array frame — the exploded alternative shuffles ~100 skinny
    rows per candidate through two joins (measured at sf0.1: 11.5 s →
    ~3.5-4 s cold end-to-end).

    Plan shape: two combinable groupBys (df counts, per-doc ordered
    arrays — the single persisted frame), one equi-join on prefix
    shingles, a combinable pair aggregate, two doc-keyed array-fetch
    joins — no cartesian, no window."""
    persist = persist or _persist
    p, q = _tau_fraction(threshold)
    # persisted: the tokenize→shingle→distinct→explode scan feeds BOTH
    # the df aggregate and the ordering join — uncached it runs twice,
    # and the scan (not the joins) dominates the build (sf1.0: 18 s →
    # 11 s for the ordered frame after caching)
    sh = persist(
        "sh", shingle_rows(df, id_col, text_col, shingle_n).select("doc", "shingle")
    )
    ordered = persist("ordered", _df_ordered_arrays(sh, _doc_freq(sh)))
    prefix = _prefix_rows(ordered, p, q)
    cand = _prefix_pairs(prefix, prefix, F.col("a.doc") < F.col("b.doc"), p, q)
    return jaccard_verify_arrays(cand, ordered).filter(F.col("jaccard") >= threshold)


def prefix_filter_incremental_pairs(
    existing: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    persist=None,
) -> DataFrame:
    """Ingest-time EXACT set-similarity: all Jaccard ≥ τ pairs touching
    the NEW batch (new×existing ∪ new×new) — the O(delta) incremental
    form of :func:`prefix_filter_jaccard_pairs`, completing the dedup
    family's incrementality story for the exact tier the way
    :func:`minhash_incremental_pairs` does for the probabilistic one.

    THE GLOBAL ORDER IS FROZEN AT INDEX-BUILD TIME: prefix filtering
    needs one total order shared by every doc in a candidate pair, so
    the standing corpus's (df, shingle) order — its document
    frequencies as of the last full build — ranks BOTH sides.  Batch
    shingles join the standing vocabulary with ``how='left'`` and
    unseen tokens take df=0 (rarer than everything observed, ties by
    shingle string).  Exactness holds under ANY fixed total order (the
    prefix theorem never references df); freshness of the frequencies
    affects only pruning power, so a deployment refreshes the order at
    compaction time, exactly like rewriting the banded MinHash index.

    Scale shape: only the batch is shingled, ordered, and
    prefix-exploded in full; the standing side contributes (a) its df
    vocabulary (one combinable groupBy — on a deployment a persisted
    table keyed by shingle), (b) its prefix rows for the candidate
    probe (likewise a persisted, shingle-bucketed index in production;
    derived in-plan here, the :func:`minhash_incremental_pairs`
    convention), and (c) full token arrays for ONLY the candidate docs
    (semi-join pruned).  Per-ingest work scales with the batch and its
    collision set.  Candidate generation, the positional filter, and
    the array-intersect verify are the full operator's, bounds in
    exact integer arithmetic."""
    persist = persist or _persist
    p, q = _tau_fraction(threshold)
    sh_e = persist(
        "sh_e",
        shingle_rows(existing, id_col, text_col, shingle_n).select("doc", "shingle"),
    )
    sh_b = persist(
        "sh_b",
        shingle_rows(batch, id_col, text_col, shingle_n).select("doc", "shingle"),
    )
    # frozen standing-index order: df over the EXISTING corpus only
    freq = _doc_freq(sh_e)
    ordered_e = persist("ordered_e", _df_ordered_arrays(sh_e, freq))
    ordered_b = persist("ordered_b", _df_ordered_arrays(sh_b, freq, how="left"))
    pref_b = _prefix_rows(ordered_b, p, q)
    # probe: batch prefixes against ALL prefixes
    cand = _prefix_pairs(
        pref_b,
        pref_b.unionByName(_prefix_rows(ordered_e, p, q)),
        F.col("a.doc") != F.col("b.doc"),
        p,
        q,
    )
    return jaccard_verify_arrays(
        cand, _with_candidates(ordered_b, ordered_e, cand)
    ).filter(F.col("jaccard") >= threshold)


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 64
) -> DataFrame:
    """Per-document SimHash: each token hashes to up to 64 bits; bit j of
    the signature is the sign of Σ_tokens (±1 per token's bit j).
    Portable md5-based token hash (two 32-bit halves, so the 64-bit form
    replays in any SQL engine without unsigned-long gymnastics); one
    explode + one groupBy.

    Signature width is a SCALE parameter, not a tuning knob: the chance
    a random pair lands within hamming ≤ 6 is Σ C(nbits,i)/2^nbits —
    ~2.4e-4 at 32 bits, which at 50k docs already yields ~10⁵
    birthday-paradox pairs and grows quadratically with corpus size
    (the round-6 sf1.0 sweep measured 53.6M pairs, 1000× the true
    near-dup count).  At 64 bits the same figure is ~5e-12 — no chance
    pairs at any realistic corpus.  Default is therefore 64."""
    if not 1 <= nbits <= 64:
        raise ValueError(f"nbits must be 1..64, got {nbits}")
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn(
        "h_lo", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    ).withColumn(
        "h_hi", F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast("long")
    )

    def _bit(j: int):
        half, b = ("h_lo", j) if j < 32 else ("h_hi", j - 32)
        return F.col(half).bitwiseAND(F.lit(1 << b))

    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(F.when(_bit(j) != 0, 1).otherwise(-1)).alias(f"b{j}")
            for j in range(nbits)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(nbits):
        # bit 63 is the long's sign bit: its two's-complement value is
        # -2^63, which both engines add identically
        weight = -(1 << 63) if j == 63 else (1 << j)
        sig = sig + F.when(F.col(f"b{j}") > 0, F.lit(weight)).otherwise(
            F.lit(0)
        ).cast("long")
    return bit_sums.select("doc", sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6, nbits: int = 64
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius — banded candidate
    generation, NOT all-pairs.

    Pigeonhole: split the signature into ``max_hamming + 1`` disjoint bit
    segments; any pair with ≤ ``max_hamming`` differing bits has at least
    one segment with zero differences, so an equi-join on
    (segment_no, segment_value) finds every qualifying pair (no false
    negatives) and the exact ``bit_count(xor)`` filter removes false
    positives.  Result set is provably identical to the all-pairs scan
    the DuckDB oracle runs, but the join is bucket-sized — at 100 TB the
    cross product never materializes."""
    sigs = simhash_signatures(df, id_col, text_col, nbits).persist()
    n_segments = max_hamming + 1
    seg_width = (nbits + n_segments - 1) // n_segments

    def _segment(s: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), s * seg_width)
        return shifted.bitwiseAND(F.lit((1 << seg_width) - 1))

    segments = sigs.select(
        "doc",
        "simhash",
        F.posexplode(F.array(*[_segment(s) for s in range(n_segments)])).alias(
            "seg_no", "seg_val"
        ),
    )
    a, b = segments.alias("a"), segments.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.seg_no") == F.col("b.seg_no"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cands


def embedding_near_duplicates(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-dup pairs. All-pairs fold — the correctness
    baseline ONLY (oracle cross-check in tests); the registered / scale
    path is :func:`embedding_near_duplicates_blocked`."""
    a, b = df.alias("a"), df.alias("b")
    cos = cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_duplicates_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    nbits: int = 64,
    bands: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-band LSH blocking — the
    100 TB path (random-hyperplane LSH, Charikar 2002, with coordinate
    hyperplanes).

    Each vector gets ``nbits`` sign bits (component >= 0), split into
    ``bands`` bands of ``nbits/bands`` bits; candidates are pairs that
    agree on at least one FULL band (equi-join on (band_no, band_value)
    — bucket-sized, never a cross product), then the exact cosine filter
    runs on candidates only.  For a near-dup pair at cosine c, a single
    hyperplane disagrees with probability arccos(c)/π (≈0.10 at c=0.95),
    so an 8-bit band fully agrees with probability ≈0.43 and ≥1 of 8
    bands agrees with probability ≈0.99 — while two random vectors
    (cos≈0) collide on a band with probability 2^-8 per band, keeping
    candidate volume linear.  Recall < 1 in general (documented; the
    all-pairs operator is the oracle); tests pin blocked == all-pairs on
    the duplicate-construction corpus."""
    w = nbits // bands

    def _band(k: int) -> Column:
        bit_exprs = [
            F.when(
                F.element_at(F.col(vec_col), k * w + j + 1) >= 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            for j in range(w)
        ]
        out = bit_exprs[0]
        for e in bit_exprs[1:]:
            out = out + e
        return out.cast("long")

    # the band value stands in for the MinHash band hash: same
    # (band_no, band_hash) bucket join
    banded = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.array(*[_band(k) for k in range(bands)])).alias(
            "band_no", "band_hash"
        ),
    )
    cand = _band_pairs(banded, banded, F.col("a.doc") < F.col("b.doc")).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    vecs = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    return (
        cand.join(vecs.alias("va"), F.col("id_a") == F.col("va.__vid"))
        .join(vecs.alias("vb"), F.col("id_b") == F.col("vb.__vid"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("va.__v"), F.col("vb.__v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def minhash_incremental_pairs(
    existing: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    persist=None,
) -> DataFrame:
    """Ingest-time near-dup detection: pairs involving the NEW batch only
    (new×existing ∪ new×new) — the incremental form of
    :func:`minhash_near_duplicates`.

    Re-running the full pipeline per ingest re-pairs the whole corpus:
    O(corpus) shuffles every batch.  Here only the batch is shingled and
    banded in full; the existing side contributes (a) its band table for
    the candidate probe and (b) shingles for ONLY the candidate docs
    (semi-join pruned) for exact verification — so per-ingest work
    scales with the batch and its collision set, not the corpus.  On a
    deployment, the existing band/signature/shingle tables are the
    persisted outputs of earlier runs (bucketed by band hash), making
    the probe a co-located join; here they are derived in-plan.

    Result is identical to the full pipeline's pairs restricted to pairs
    touching a batch document (pinned by test).

    ``persist`` — (key, frame) -> persisted frame, same contract as
    :func:`prefix_filter_incremental_pairs`: streaming callers pass a
    tracking callback so per-trigger caches (notably the corpus-sized
    ``arr_e``) are unpersisted at the end of each micro-batch instead of
    accumulating for the lifetime of the stream (ADVICE r10).

    The persisted per-side intermediates are per-doc distinct-shingle
    ARRAY frames (no ~8 B/shingle exploded-row overhead); signatures,
    banding and the band probe are the batch operator's stages, and the
    verify is :func:`jaccard_verify_arrays` over batch arrays ∪
    semi-join-pruned candidate existing arrays."""
    persist = persist or _persist
    docs_b = _nonempty(persist("arr_b", minhash_doc_arrays(batch, id_col, text_col, shingle_n)))
    docs_e = _nonempty(persist("arr_e", minhash_doc_arrays(existing, id_col, text_col, shingle_n)))
    b_bands = _band_rows(minhash_signatures(docs_b, num_hashes), num_hashes, bands)
    e_bands = _band_rows(minhash_signatures(docs_e, num_hashes), num_hashes, bands)
    cands = _band_pairs(
        b_bands, b_bands.unionByName(e_bands), F.col("a.doc") != F.col("b.doc")
    )
    verified = jaccard_verify_arrays(cands, _with_candidates(docs_b, docs_e, cands))
    return verified.filter(F.col("jaccard") >= threshold)
