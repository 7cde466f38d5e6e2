"""Deduplication suite — exact through near-dup, built for 100 TB corpora.

The reference's dedup needs are whole-row / keyed / first-seen
(pipeline .py:448, .py:215-216; mapping notebook:232). A training-data
pipeline needs much more: content-hash dedup, MinHash+LSH near-dup, SimHash,
n-gram Jaccard. All implemented as *shuffle-on-key* plans — explode to
(feature, doc) pairs and equi-join/aggregate on the feature — never pairwise
loops, so they scale linearly with corpus size instead of quadratically.

Hashing is md5-based end-to-end: identical bits in Spark and DuckDB, so every
operator here has an exact SQL oracle (oracles.py) — engine-specific hashes
(xxhash64/murmur) would make cross-engine verification impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import WS_RE, doc_fingerprint
from .util import fan_out, materialize

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_first_seen(df: DataFrame, key: str, order: list[str]) -> DataFrame:
    """O4 — first-occurrence-wins dedup (pipeline .py:215-216 ``if ad_id in
    map: continue``). The reference depends on scrape order; here the order
    is an explicit column list, so the survivor is deterministic."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_by_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash dedup: md5 of normalized text, min-id survivor.

    The 100 TB shape: one groupBy on the fingerprint (map-side partial
    min) — no sort, no window, no skew (fingerprints are uniform).
    """
    fp = df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
    survivors = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return df.join(survivors.select(id_col), id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def char_shingles(
    df: DataFrame, id_col: str, text_col: str, w: int = 8, distinct: bool = True
) -> DataFrame:
    """Character w-shingles per document as (id, shingle) rows.

    ``sequence`` + ``explode`` + ``substring`` — the declarative analog of a
    sliding window; stays in codegen. Text shorter than ``w`` yields its
    whole text as the single shingle (so short docs still participate).

    ``distinct`` dedups the (id, shingle) pairs — REQUIRED for Jaccard set
    semantics, but a full shuffle of the exploded rows. MinHash consumers
    pass ``distinct=False``: min over a multiset equals min over its set,
    so the signature aggregation runs straight off the explode with no
    shuffle before the per-doc groupBy.
    """
    # Split to a code-point array ONCE, then slice+join per window. The
    # previous shape (explode an index sequence, substring(text, i, w) per
    # row) paid UTF8String's O(i) code-point SEEK per call — O(len²) byte
    # scans per doc, invisible on ~1KB docs but 3.3× the whole shingle
    # stage on the 30×-repetitive ~11KB adversarial docs (measured r09:
    # 8.8 → 2.7s for the 7.5k-rep shingle+count job; output identical).
    # __chars must be a separate projection AND be referenced ≥2 times
    # below (size() + the lambda's slice) — a single non-cheap reference
    # would let CollapseProject inline the split back into the lambda,
    # which re-evaluates it per element (the bigrams O(n²) class).
    chars = F.col("__chars")
    idx = F.sequence(F.lit(1), F.greatest(F.size(chars) - w + 1, F.lit(1)))
    out = (
        # the explode expands each doc ×|text| before the first shuffle —
        # spread a narrow scan across cores first
        fan_out(df)
        .select(F.col(id_col), F.split(F.col(text_col), "").alias("__chars"))
        .select(
            F.col(id_col),
            F.explode(
                F.transform(idx, lambda i: F.array_join(F.slice(chars, i, w), ""))
            ).alias("shingle"),
        )
        # NULL-text docs would otherwise emit NULL shingles → all-NULL
        # minhash signatures → ONE shared band bucket → O(n²) candidate
        # pairs among empty docs (the hot-bucket blowup). No shingles means
        # the doc simply doesn't participate in near-dup.
        .filter(F.col("shingle").isNotNull())
    )
    return out.distinct() if distinct else out


def selected_windows(
    df: DataFrame, id_col: str, text_col: str, w: int = 64, mod: int = 16,
    with_span: bool = False,
) -> DataFrame:
    """Content-defined window selection for cross-document repeated-SPAN
    detection — the substring-dedup shape (Lee et al., "Deduplicating
    Training Data Makes Language Models Better") re-expressed for Spark.

    Every w-char window is hashed and a window is SELECTED when its hash
    ≡ 0 (mod ``mod``). Selection depends on CONTENT, not position, so two
    documents sharing any span of ≥ w + mod·E[gap] chars share a selected
    window with high probability regardless of byte alignment — the
    winnowing / content-defined-chunking argument; a fixed stride would
    miss spans whose offsets differ between the two documents. Expected
    selected windows per doc = (len − w + 1)/mod, so only ~1/mod of the
    exploded windows ever shuffle; the explode itself is embarrassingly
    parallel pre-shuffle work (``char_shingles``' O(len) slice shape, not
    the O(len²) substring-seek the r09 fix removed).

    Returns DISTINCT (id, win) rows where ``win`` is the window's md5 hex
    — the selection hash is reused as the join key, one md5 per window
    total. The md5-hex-prefix → int64 idiom matches the MinHash family so
    the DuckDB oracle reproduces the selection bit-identically.
    ``with_span=True`` additionally carries the window's TEXT as ``span``
    (win → span is 1:1 — the hash IS md5(span) — so the distinct
    cardinality is unchanged); :func:`excise_spans` needs the text to cut.
    """
    cols = [F.col(id_col), F.md5(F.col("shingle")).alias("win")]
    if with_span:
        cols.append(F.col("shingle").alias("span"))
    wins = char_shingles(df, id_col, text_col, w=w, distinct=False).select(*cols)
    selected = (
        F.conv(F.substring(F.col("win"), 1, 15), 16, 10).cast("long") % mod == 0
    )
    return wins.filter(selected).distinct()


def substring_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 64,
    mod: int = 16,
    max_texts: int = 64,
) -> DataFrame:
    """Document pairs sharing ≥ 1 kept selected window — the full
    substring-dedup pipeline over :func:`selected_windows`: exact-dup
    quotient → content-defined selection → boilerplate cut (windows in
    more than ``max_texts`` DISTINCT TEXTS are template chrome, cut
    BEFORE the pair join — the hot-bucket quadratic guard) → equi-join on
    the window hash → member-level expansion. Output: (id_a, id_b,
    shared_windows) with id_a < id_b.

    The boilerplate cut counts distinct texts by DEFINITION (twins must
    not promote a span to boilerplate), which is exactly the rep count
    after the quotient — so the quotiented frequency needs no group-size
    weighting to match a direct path. A twin pair shares exactly its
    rep's own kept windows, so the self payload is the rep's kept-window
    count (computed, not a literal).
    """
    from .util import materialize as _mat

    reps, mapping = exact_dup_quotient(
        docs.select(id_col, text_col), id_col, F.md5(F.col(text_col)),
        F.col(text_col).isNotNull(),
    )
    mapping = mapping.materialize()
    wins = selected_windows(reps, id_col, text_col, w=w, mod=mod)
    # boilerplate frequency as groupBy + semi-join-back, NOT a window
    # count over partitionBy(win): a true boilerplate window (carried by
    # millions of distinct texts — exactly the rows this cut targets) is
    # the hot key, and a window function buffers its whole partition on
    # one task with no map-side partial aggregation. The groupBy ships
    # only partial counts for the hot key, and the semi-join probe is
    # streaming (sort-merge, so AQE can skew-split it) (ADVICE r11).
    kept_keys = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_texts)
        .select("win")
    )
    kept = wins.join(kept_keys.hint("merge"), "win", "left_semi").select(
        id_col, "win"
    )
    # feeds 3 subtrees (both join sides + the twin self-pair counts):
    # materialize the explode+selection once (the q_ngram_jaccard shape)
    kept = kept.transform(_mat)
    a = kept.select(F.col(id_col).alias("rep_a"), "win")
    b = kept.select(F.col(id_col).alias("rep_b"), "win")
    # kept is checkpoint-derived (underestimated stats): pin sort-merge so
    # the planner never broadcasts a corpus-proportional side (the
    # merge-pin contract, PLANS.md)
    rp = (
        a.hint("merge")
        .join(b, "win")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .groupBy("rep_a", "rep_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )
    self_pairs = None
    if not mapping.twin_free:
        multi = mapping.multi_member_reps(reps, id_col).select(id_col)
        self_pairs = (
            kept.join(multi.hint("merge"), id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("shared_windows"))
            .select(
                F.col(id_col).alias("rep_a"),
                F.col(id_col).alias("rep_b"),
                "shared_windows",
            )
        )
    return quotient_expand_pairs(
        rp, mapping, id_col,
        payload_cols=["shared_windows"], self_pairs=self_pairs,
    )


def excise_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 64,
    mod: int = 16,
    min_texts: int = 2,
) -> DataFrame:
    """Span-level EXCISION — the curation step downstream of the
    substring-dedup report (Lee et al. dedup at span level, not just doc
    level): rewrite each document with every FLAGGED repeated ``w``-char
    selected window cut out. Flagged = the :func:`selected_windows`
    windows carried by ≥ ``min_texts`` distinct texts (``min_texts=2`` is
    exactly the q_boilerplate_spans report). Output per input doc:
    (id, n_flagged_spans, clean_text).

    Determinism: a window hash IS md5 of its span text, so win → span is
    1:1 and the cut text needs no representative choice; each doc folds
    replace(acc, span, '') over ITS OWN flagged spans in ascending span
    order (replace removes every occurrence, so alignment never matters).
    Both the fold order and replace-all semantics are engine-exact, so a
    DuckDB list_reduce over the same sorted list reproduces the surgery
    byte-for-byte.

    Scale shape: the flagged set can be corpus-proportional at a low
    ``min_texts``, so NO doc ever sees the global span list — each doc
    equi-joins to the flagged spans it actually CONTAINS (semi-join on
    the window hash over the already-1/16-selected windows) and folds
    only those; docs carrying none pass through a left join unchanged.
    Exact-dup quotient first: excision is a pure function of text, so the
    rewrite runs once per distinct text and expands back through the
    (doc → rep) mapping.
    """
    from .util import materialize as _mat

    reps, mapping = exact_dup_quotient(
        docs.select(id_col, text_col), id_col, F.md5(F.col(text_col)),
        F.col(text_col).isNotNull(),
    )
    mapping = mapping.materialize()
    # feeds the flag count AND the per-doc span lists — cut the
    # explode+selection once (the substring_dedup_pairs shape)
    wins = selected_windows(
        reps, id_col, text_col, w=w, mod=mod, with_span=True
    ).transform(_mat)
    # flagged frequency counts distinct TEXTS (= reps under the quotient):
    # groupBy + semi-join-back, same skew discipline as the boilerplate
    # cut (a window function would buffer a hot window on one task)
    flagged = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_texts)
        .select("win")
    )
    per_doc = (
        wins.join(flagged.hint("merge"), "win", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("span")).alias("__spans"))  # null-audited: span = md5 input text, non-null by the shingle NULL filter
    )
    spans = F.coalesce(F.col("__spans"), F.array().cast("array<string>"))
    clean = F.aggregate(
        spans, F.col(text_col), lambda acc, s: F.replace(acc, s, F.lit(""))
    )
    out_reps = reps.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.size(spans).cast("long").alias("n_flagged_spans"),
        clean.alias("clean_text"),
    )
    return mapping.expand(out_reps, id_col)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# universal-hash family h_i(x) = (a_i·x + b_i) mod P over a single md5-derived
# base value — ONE md5 per shingle instead of num_hashes of them (md5 is the
# dominant cost at corpus scale). Constants derived deterministically from
# md5 so the DuckDB oracle regenerates the identical family.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne); a·x+b stays inside int64
# every catalog near-dup query bands 16 MinHashes into 4 bands of 4 rows
_NUM_HASHES = 16
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:8], 16) | 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:8], 16)
        out.append((a, b))
    return out


def minhash_signatures(shingles: DataFrame, id_col: str) -> DataFrame:
    """MinHash signature per document (``_NUM_HASHES`` = 16 columns
    mh0..mh15): base = int64 of the md5-hex prefix of the shingle
    (bit-identical in every engine), signature_i = min over shingles of
    (aᵢ·base + bᵢ) mod P.

    One groupBy with 16 min-aggregates — partial aggregation
    makes this a single shuffle of (doc → signature) regardless of corpus
    size; one md5 per shingle total.
    """
    base = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    with_h = shingles.withColumn("__h", base)
    # each aggregate as ONE parsed SQL string: the Column-operator form
    # costs ~6 py4j round-trips per aggregate (lit/mul/add/mod/min/alias),
    # and round-trips are ~0.3-1 ms each — construction wall, paid per
    # bench rep (r12 opt, guide §1.2 step 2 applied to the DRIVER). The
    # parsed expression tree is identical (same literals, same operator
    # nodes), so signatures are bit-identical.
    aggs = [
        F.expr(f"min(({a} * __h + {b}) % {MINHASH_P}) AS mh{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(_NUM_HASHES))
    ]
    return with_h.groupBy(id_col).agg(*aggs)


def _to_bands(sig: DataFrame, id_expr, out_id: str) -> DataFrame:
    """Long (out_id, band_idx, band_hash) rows of a signature frame whose id
    column ``id_expr`` is named ``out_id``: each of the 4 bands is the md5
    of its 4 signature rows. One parsed SQL string per band (vs ~2+rows
    py4j calls each) — same expression tree, construction-wall only (r12
    opt)."""
    band_cols = [
        F.expr(
            "md5(concat_ws('|', "
            + ", ".join(f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
            + f")) AS band{b}"
        )
        for b in range(_BANDS)
    ]
    return sig.select(id_expr, *band_cols).unpivot(
        [out_id], [f"band{b}" for b in range(_BANDS)], "band_idx", "band_hash"
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str) -> DataFrame:
    """LSH banding: split the 16-row signature into 4 bands of 4 rows;
    documents sharing any band hash are candidate near-duplicates. Output:
    (id_a, id_b) with id_a < id_b, distinct.

    The plan is explode-to-bands → self-equi-join on (band_idx, band_hash):
    a shuffle join on uniformly-distributed md5 keys — the scalable LSH
    shape (no pairwise comparison until the candidate set).
    """
    long = _to_bands(signatures, F.col(id_col), id_col)
    # both self-join sides replay the signature groupBy (a full shuffle of
    # the shingle explode) without a cut — aliases differ, so no
    # ReusedExchange. The banded frame is docs×bands rows of (id, hash):
    # tiny next to its lineage. localCheckpoint: ContextCleaner-freed.
    long = long.transform(materialize)
    a = long.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = long.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        # merge hint: both sides are the corpus-sized banded table behind a
        # checkpoint whose stats underestimate — the static planner chose a
        # BroadcastHashJoin build over the full band table at the 10x probe
        # scale, the same driver-OOM class as the shingle verify
        a.join(b.hint("merge"), ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def _candidate_intersection(
    shingles: DataFrame,
    id_col: str,
    candidates: DataFrame,
    candidates_materialized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate-driven verify core: per-pair shingle-intersection
    counts plus per-doc set sizes, pruned to candidate docs.

    Scale-proofing, probed on the 10x-replicated ~sf1 vintage: every frame
    here is CORPUS-PROPORTIONAL (candidate pairs, pruned shingles, per-doc
    sizes all grow with the duplicate density), but checkpointed inputs
    carry LogicalRDD stats that underestimate through the semi-join, and
    the static planner happily picked a BroadcastHashJoin whose build side
    was the multi-GB pruned shingle table — an instant driver OOM at 10x.
    Explicit ``merge`` hints pin every corpus-sized join to sort-merge
    (spill-able, shuffle-partitioned); only the id-list semi-join is left
    to the optimizer, since its small side really is bounded.
    """
    # skip the cut if the caller declares the pair frame already
    # materialized (q_dedup_agreement shares ONE candidate set across the
    # jaccard and containment verifies) — re-materializing it would run an
    # extra eager job per call just to copy the blocks. An explicit flag,
    # not plan sniffing: probing analyzed().nodeName() via _jdf breaks
    # under Spark Connect and silently mis-skips any other
    # LogicalRDD-backed input (e.g. createDataFrame from an RDD).
    if not candidates_materialized:
        candidates = materialize(candidates)
    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))  # union-audited: candidates is materialized just above (or declared so by the caller) — both branches read checkpoint blocks, nothing replays
        .distinct()
    )
    pruned = shingles.join(ids, id_col, "left_semi")
    sizes = pruned.groupBy(id_col).agg(F.count("*").alias("__sz"))
    a = pruned.select(F.col(id_col).alias("id_a"), "shingle").hint("merge")
    b = pruned.select(F.col(id_col).alias("id_b"), "shingle").hint("merge")
    inter = (
        candidates.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    return inter, sizes


def _attach_sizes(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    """Join per-doc set sizes onto the pair-level intersection counts —
    merge-hinted: both sides are candidate-scaled."""
    sa = sizes.select(F.col(sizes.columns[0]).alias("id_a"), F.col("__sz").alias("__sza"))
    sb = sizes.select(F.col(sizes.columns[0]).alias("id_b"), F.col("__sz").alias("__szb"))
    return inter.join(sa.hint("merge"), "id_a").join(sb.hint("merge"), "id_b")


def ngram_jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    candidates_materialized: bool = False,
) -> DataFrame:
    """Jaccard similarity over distinct shingle sets, computed the
    distributed way: |A∩B| via self-join on shingle (never pairwise array
    intersection), |A∪B| = |A|+|B|-|A∩B|.

    ``candidates`` (id_a, id_b) prefilters BEFORE the join — at scale you
    ALWAYS pass the LSH candidates: a hot shingle shared by d documents
    contributes d²/2 rows to the unfiltered self-join (verified to OOM at
    5k word-salad docs already), while the candidate-driven plan is linear
    in |candidates| × shingles-per-doc. Without candidates this falls back
    to the full co-occurrence join (only safe for small corpora).

    The candidate path (see :func:`_candidate_intersection`) prunes the
    shingle table to candidate docs with a semi-join BEFORE any wide join —
    at corpus scale the verify never shuffles the full shingle table — and
    pins every corpus-proportional join to sort-merge so no stats
    misestimate can ever pick a corpus-sized broadcast build.

    Returns (id_a, id_b, jaccard) for pairs ≥ threshold.
    """
    if candidates is not None:
        # candidate-driven intersection: |cand| × shingles/doc, never d²
        inter, sizes = _candidate_intersection(
            shingles, id_col, candidates, candidates_materialized
        )
    else:
        sizes = shingles.groupBy(id_col).agg(F.count("*").alias("__sz"))
        a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
        b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("__inter"))
        )
    return (
        _attach_sizes(inter, sizes)
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_candidate_pairs_against(
    sig_new: DataFrame,
    sig_index: DataFrame,
    id_col: str,
) -> DataFrame:
    """LSH banding of NEW documents against a standing INDEX — the
    incremental-ingest dedup shape: band both signature sets, equi-join
    new×index on (band_idx, band_hash). Never a self-join, so candidate
    volume is |new-side collisions|, independent of index size beyond the
    band join — the property that lets a daily increment dedup against a
    100 TB standing corpus without rescanning it pairwise. Output:
    distinct (id_a = new id, id_b = index id).
    """
    a = _to_bands(sig_new, F.col(id_col).alias("id_a"), "id_a")
    b = _to_bands(sig_index, F.col(id_col).alias("id_b"), "id_b")
    # merge hint: the INDEX side is the standing corpus — the one side that
    # must never be chosen as a broadcast build, whatever the stats say
    return (
        a.join(b.hint("merge"), ["band_idx", "band_hash"])
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_containment_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    candidates_materialized: bool = False,
) -> DataFrame:
    """Jaccard CONTAINMENT over distinct shingle sets:
    ``|A∩B| / min(|A|,|B|)`` — the near-SUBSET detector. A short document
    quoted whole inside a long one scores ~1.0 here while plain Jaccard
    dilutes it toward |short|/|long|; containment is the right metric for
    quote/excerpt dedup and benchmark-contamination sweeps.

    Same distributed shape as :func:`ngram_jaccard_pairs` (intersection via
    equi-join on shingle, candidate-prefiltered AND candidate-pruned at
    scale — never a pairwise array op, never a corpus-sized broadcast);
    only the denominator differs. Returns (id_a, id_b, containment) for
    pairs ≥ threshold, id_a < id_b.
    """
    if candidates is not None:
        inter, sizes = _candidate_intersection(
            shingles, id_col, candidates, candidates_materialized
        )
    else:
        sizes = shingles.groupBy(id_col).agg(F.count("*").alias("__sz"))
        a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
        b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("__inter"))
        )
    return (
        _attach_sizes(inter, sizes)
        .withColumn(
            "containment", F.col("__inter") / F.least("__sza", "__szb")
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# ---------------------------------------------------------------------------
# cluster survivorship (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

# Largest dup-member count (rows in groups of >= 2) the sparse arm collects
# to the driver; above it the dense arm runs. Sized by r11's 10x A/B
# (AB_QUOTIENT_r11.json): at ~45k dup members the dense merge-join mapping
# beat the sparse collect + LocalRelation broadcasts by 10-25% on every
# probed query (clusters/minhash/ngram/embed-exact), and dense at this value
# beat sparse at 65536 on all four. 16k ids is a few hundred KB of
# (rep, members) rows on the driver.
_SPARSE_MAX_DUP_MEMBERS = 16_384


class QuotientMapping:
    """Expansion handle returned by :func:`exact_dup_quotient` — carries the
    group structure plus WHICH physical strategy expansion should use. Three
    arms, chosen from exact counts over the fingerprint groups, never from
    planner stats:

    - ``bypass`` — no group has ≥2 members (twin-free input). Expansion is
      the identity: rep-level results ARE member-level results, so every
      mapping/expansion join disappears from the plan. This is the common
      case on curated vintages, where r09's unconditional quotient paid two
      merge joins + a corpus-sized mapping checkpoint for nothing (measured
      +0.7s on q_ngram_jaccard at sf0.1 — VERDICT r09 task 1).
    - ``sparse`` — duplicates exist and the dup-involved rows number at most
      ``_SPARSE_MAX_DUP_MEMBERS`` (exact count). The multi-member groups are
      collected ONCE and shipped back as a LocalRelation
      (``members_df``: one Arrow batch, no job); the rep filter is a
      broadcast anti-join of the non-rep ids and expansion a broadcast left
      join + explode — twin-proportional, no shuffle of the main plan.
      Bounded driver state from an exact count — the same contract as
      IVF's k×dim centroid collect.
    - ``dense`` — twin-heavy (the common-crawl shape). Full corpus-sized
      (id, rep) mapping, merge-pinned shuffle joins for expansion: the r09
      behavior, kept verbatim because broadcasting a corpus-proportional
      frame is the driver-OOM shape the merge-pin contract forbids.

    All three arms are output-IDENTICAL (tests/test_quotient.py pins each
    arm against the direct path and against the other arms; tests force
    the dense arm by monkeypatching ``_SPARSE_MAX_DUP_MEMBERS``).
    """

    def __init__(self, kind: str, id_col: str, df: DataFrame | None = None,
                 multi_sizes: DataFrame | None = None,
                 members_df: DataFrame | None = None):
        self.kind = kind          # "bypass" | "sparse" | "dense"
        self.id_col = id_col
        # dense: full corpus-sized (id_col, __rep) DataFrame; None otherwise
        self.df = df
        # dense: (__rep, __n) DataFrame for groups with __n >= 2
        self._multi_sizes = multi_sizes
        # sparse: (__q_rep, __q_members) LocalRelation of the multi-member
        # groups ONLY (bounded by the exact-count gate). NOT per-element
        # expressions: Column.isin(<big list>) / F.lit(<big list>) build
        # one py4j call PER ELEMENT (measured: 45k ids ≈ 20s of driver
        # time), while a LocalRelation is O(1) py4j calls at any size.
        self.members_df = members_df

    @property
    def twin_free(self) -> bool:
        return self.kind == "bypass"

    def materialize(self) -> "QuotientMapping":
        """Cut lineage on the dense mapping when it feeds >1 consumer (the
        r09 call-site contract). No-op for bypass and sparse (nothing
        distributed to cut — sparse state is a driver-local relation)."""
        if self.kind == "dense":
            self.df = materialize(self.df)
        return self

    def multi_sizes(self) -> DataFrame:
        """(__rep, __n) for groups with ≥2 members. dense: a filter over
        the checkpointed group table; sparse: a projection of the
        LocalRelation (no job). Callers must branch on ``twin_free``
        before using it (bypass has none)."""
        if self.kind == "sparse":
            return self.members_df.select(
                F.col("__q_rep").alias("__rep"),
                F.size("__q_members").cast("long").alias("__n"),
            )
        if self._multi_sizes is None:
            raise ValueError("twin-free quotient has no multi-member groups")
        return self._multi_sizes

    def attach_multiplicity(self, rep_df: DataFrame, rep_col: str,
                            out_col: str) -> DataFrame:
        """``rep_df`` + ``out_col`` = group size of ``rep_df[rep_col]``
        (1 for singleton groups). sparse: broadcast left join against the
        LocalRelation (twin-proportional, no shuffle); dense: left join
        against the multi-group sizes only."""
        if self.kind == "bypass":
            return rep_df.withColumn(out_col, F.lit(1).cast("long"))
        ms = self.multi_sizes().select(
            F.col("__rep").alias(rep_col), F.col("__n").alias("__q_n")
        )
        if self.kind == "sparse":
            ms = F.broadcast(ms)
        return (
            rep_df.join(ms, rep_col, "left")
            .withColumn(out_col, F.coalesce(F.col("__q_n"), F.lit(1)))
            .drop("__q_n")
        )

    def multi_member_reps(self, reps: DataFrame, rep_col: str) -> DataFrame:
        """Rows of ``reps`` whose group has ≥2 members (for callers that
        compute the within-group self payload from the representative's own
        data, e.g. the identical-vector cosine). sparse: broadcast semi
        join against the LocalRelation; dense: semi join against the
        multi-group sizes. Branch on ``twin_free`` first — bypass has
        none."""
        keys = self.multi_sizes().select(F.col("__rep").alias(rep_col))
        if self.kind == "sparse":
            keys = F.broadcast(keys)
        return reps.join(keys, rep_col, "left_semi")

    def expand(self, rep_df: DataFrame, rep_col: str,
               out_col: str | None = None) -> DataFrame:
        """Replace each rep id in ``rep_df[rep_col]`` with EVERY member id
        of its group (multiplying rows), carrying all other columns; the
        result column is named ``out_col`` (default: ``rep_col``).

        bypass: pure rename — every group is a singleton, reps ARE members.
        sparse: broadcast left join of the LocalRelation member lists, one
        explode with an ``array(rep)`` fallback for singleton reps — no
        shuffle of the (potentially large) pair stream, and ``rep_df`` has
        exactly one consumer (no union/replay). dense: merge-pinned
        equi-join against the corpus-sized mapping (the r09 shape;
        broadcast would be the driver-OOM anti-pattern on a
        corpus-proportional frame)."""
        out_col = out_col or rep_col
        others = [c for c in rep_df.columns if c != rep_col]
        if self.kind == "bypass":
            return rep_df.select(F.col(rep_col).alias(out_col), *others)
        if self.kind == "sparse":
            extra = F.broadcast(
                self.members_df.withColumnRenamed("__q_rep", rep_col)
            )
            members = F.coalesce(
                F.col("__q_members"), F.array(F.col(rep_col))
            )
            return rep_df.join(extra, rep_col, "left").select(
                F.explode(members).alias(out_col), *others
            )
        return rep_df.join(
            self.df.select(
                F.col("__rep").alias(rep_col), F.col(self.id_col).alias("__q_m")
            ).hint("merge"),
            rep_col,
        ).select(F.col("__q_m").alias(out_col), *others)


def exact_dup_quotient(
    df: DataFrame,
    id_col: str,
    fingerprint,
    collapsible=None,
) -> tuple[DataFrame, QuotientMapping]:
    """Collapse EXACT duplicates to one representative row before near-dup
    detection — the quotient-graph step a web-scale dedup runs first.

    On twin-heavy corpora (the common-crawl shape: most duplicates are
    byte-identical) every downstream cost is quadratic in twin multiplicity
    without this: a k-way exact-dup group contributes k×(k-1)/2 LSH
    candidate pairs, k copies of every shingle explode, and a k-clique the
    component iteration has to traverse. Collapsing the group to its min-id
    representative makes all of that ~linear, and the result is PROVABLY
    identical: identical inputs have identical shingles/signatures/band
    hashes (construction-exact md5 machinery), so candidacy and similarity
    values quotient exactly, and a group's representative id IS the group
    min — the component min over representatives equals the min over all
    members. The 10× replication probe (BENCH_BIGSCALE.json) is the
    measured case: clusters/semantic clustering pay ~100× pair blowup
    without the quotient.

    ``fingerprint``: Column — equal values ⇔ rows are exact duplicates for
    the downstream similarity (e.g. ``F.md5(text)``, ``F.md5(vec.cast(
    "string"))``). ``collapsible``: optional Column<bool>; rows where it is
    False/NULL stay singleton groups — REQUIRED for rows the downstream
    pipeline would NOT self-connect (zero-norm vectors get no cosine edge,
    NULL texts shed no shingles), otherwise the quotient would cluster
    twins the direct path leaves isolated.

    Returns ``(reps, mapping)``: ``reps`` = the full rows of each group's
    min-id representative (run the near-dup pipeline on these); ``mapping``
    = a :class:`QuotientMapping` whose arm is picked from EXACT counts of
    one detection aggregate over the fingerprint groups (r10): twin-free
    inputs bypass (``reps`` is ``df`` itself — no semi-join, no mapping, no
    expansion joins), inputs with at most ``_SPARSE_MAX_DUP_MEMBERS`` dup
    rows take the sparse arm (broadcast LocalRelation of the multi-member
    groups), twin-heavier inputs the dense arm (the r09 corpus-sized
    merge-join mapping). One fingerprint shuffle + one tiny detection
    aggregate in every arm.

    Precondition (r11): ``id_col`` must be non-NULL on every row. The three
    arms' rep filters have different NULL-id semantics (the dense semi-join
    drops a NULL id, the sparse anti-join keeps it, bypass returns ``df``
    verbatim), so a NULL id would silently diverge across arms — and a
    NULL-id rep could never be joined back by ``expand`` anyway. Every call
    ENFORCES this with a ValueError for free (one extra count folded into
    the detection aggregate), whichever arm the input then takes.

    Deliberate trade (r10): detection runs BEFORE checkpointing, so the
    dense arm re-shuffles the (id, fingerprint) pairs once more for the
    group-table checkpoint — a second narrow-column pass paid only on
    corpora with more than ``_SPARSE_MAX_DUP_MEMBERS`` dup rows, where the
    quotient's savings dwarf it (the 10× lanes measure ~10-100× per
    family). Checkpoint-first was measured worse: it charges every
    twin-free input a wasted group-table checkpoint, and twin-free is the
    common curated vintage.

    Driver-job shape (r13 opt): the sparse arm's member fetch is ONE
    groupBy collect (``_quotient_members_plan``) — the previous shape
    re-aggregated the (id, fp) pairs as a broadcast build and probed the
    pairs against it, paying a second input scan plus a broadcast
    exchange per call. Callers with several independent inputs (the
    per-side quotients of incremental dedup / decontamination) should
    call :func:`exact_dup_quotient_multi`, which fuses all inputs'
    detection aggregates into one job and all sparse member collects
    into another — 2 driver job round-trips instead of 2 per side.
    """
    return exact_dup_quotient_multi([(df, id_col, fingerprint, collapsible)])[0]


def _quotient_pairs_frame(df: DataFrame, id_col: str, fingerprint, collapsible):
    """(id, __fp) projection with the quotient's NULL discipline applied.

    NULL fingerprints route to the singleton arm unconditionally: groupBy
    puts every NULL in ONE group, so a fingerprint expression that can
    evaluate to NULL (md5 of a nullable column, concat of nullable casts)
    would silently cross-collapse unrelated rows with no runtime signal.
    The coalesce makes "equal __fp ⇔ exact duplicate" hold for every
    caller, not only ones whose fingerprint recipe happens to be
    never-NULL."""
    self_fp = F.concat(F.lit("__self:"), F.col(id_col).cast("string"))
    fp = fingerprint
    if collapsible is not None:
        fp = F.when(collapsible, fingerprint).otherwise(self_fp)
    fp = F.coalesce(fp, self_fp)
    return df.select(F.col(id_col), fp.alias("__fp"))


def _quotient_stats_frame(m: DataFrame, id_col: str) -> DataFrame:
    """ONE-row detection aggregate: max group size, dup-involved row count,
    NULL-id row count. count() counts ALL rows, count(id) only non-NULL
    ones — their per-group difference is the NULL-id count, with no extra
    expression shuffled (the free precondition probe)."""
    grouped = m.groupBy("__fp").agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.col(id_col)).alias("__nn"),
    )
    return grouped.agg(
        F.max("__n").alias("__mx"),
        F.sum(F.when(F.col("__n") >= 2, F.col("__n")).otherwise(0)).alias("__dup"),
        F.sum(F.col("__n") - F.col("__nn")).alias("__null_ids"),
    )


def _quotient_members_plan(m: DataFrame, id_col: str) -> DataFrame:
    """Multi-member groups as (__rep, __ms) — the sparse arm's member
    fetch, post-detection. ONE groupBy over the (id, fp) projection
    (r13 opt): the previous shape re-aggregated ``m`` as a broadcast
    build side and probed ``m`` against it — a second full input scan
    plus a broadcast exchange per call, just to re-derive rows this
    single aggregate yields directly. collect_list buffers are bounded
    because callers only run this plan AFTER detection proved
    dup_members ≤ _SPARSE_MAX_DUP_MEMBERS (no group can exceed it)."""
    return (
        m.groupBy("__fp")
        .agg(
            F.min(id_col).alias("__rep"),
            F.collect_list(id_col).alias("__ms"),  # null-audited: non-null id_col enforced by the detection ValueError before this plan is collected, so collect_list drops nothing
        )
        .filter(F.size("__ms") >= 2)
        .select("__rep", "__ms")
    )


def _quotient_sparse(
    df: DataFrame, id_col: str, id_type, member_rows
) -> tuple[DataFrame, QuotientMapping]:
    """Build the sparse-arm (reps, mapping) from the collected multi-member
    group rows (bounded by the detection gate)."""
    members = [(r["__rep"], list(r["__ms"])) for r in member_rows]
    # ship the driver-side structures back as TRUE LocalRelations
    # (operators/util.local_relation — Arrow batches, JVM-side decode,
    # exact stats). Never per-element expressions: isin(<list>)/
    # F.lit(<list>) cost one py4j call PER ELEMENT (measured r10: 45k ids
    # ≈ 20s of pure driver time building the plan); and never bare
    # createDataFrame(list) — its pickled-RDD slices launch one
    # python-worker round-trip per slice on EVERY broadcast build (r12
    # opt: ~0.6 s × 32 tasks of PythonRunner.read wait inside the
    # expansion stage).
    from pyspark.sql.types import ArrayType, StructField, StructType

    from .util import local_relation

    spark = df.sparkSession
    members_df = local_relation(
        spark,
        members,
        StructType(
            [
                StructField("__q_rep", id_type),
                StructField("__q_members", ArrayType(id_type)),
            ]
        ),
    )
    nonrep_df = local_relation(
        spark,
        [(i,) for r, ms in members for i in ms if i != r],
        StructType([StructField(id_col, id_type)]),
    )
    # twin-proportional broadcast anti join (no shuffle). ids are non-NULL
    # (the detection aggregate raised otherwise); note an anti join would
    # KEEP a NULL id while the dense arm's semi join would DROP it —
    # exactly the divergence the precondition forbids.
    reps = df.join(F.broadcast(nonrep_df), id_col, "left_anti")
    return reps, QuotientMapping("sparse", id_col, members_df=members_df)


def _quotient_dense(
    df: DataFrame, id_col: str, m: DataFrame
) -> tuple[DataFrame, QuotientMapping]:
    """The r09 dense shape — distributed group table, checkpointed once
    (it feeds the mapping join AND the reps semi-join)."""
    groups = (
        m.groupBy("__fp")
        .agg(F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__n"))
        .transform(materialize)
    )
    mapping = m.join(groups.select("__fp", "__rep"), "__fp").select(
        F.col(id_col), F.col("__rep")
    )
    reps = df.join(
        groups.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
    )
    return reps, QuotientMapping(
        "dense", id_col, df=mapping,
        multi_sizes=groups.filter(F.col("__n") >= 2).select("__rep", "__n"),
    )


def exact_dup_quotient_multi(specs) -> list[tuple[DataFrame, QuotientMapping]]:
    """:func:`exact_dup_quotient` over several INDEPENDENT inputs with the
    per-input driver jobs FUSED (r13 opt, guide §5 driver / §2.6 idle
    capacity): ONE detection job for every input (a union of the one-row
    stats aggregates — the independent aggregation subtrees run inside a
    single action, so their stages overlap instead of serializing) and ONE
    member-collect job for every sparse-arm input whose id type matches.
    Two-sided callers (incremental dedup, decontamination, interval join)
    pay 2 driver job round-trips instead of 4; arm selection, results, and
    the NULL-id precondition are IDENTICAL to calling
    :func:`exact_dup_quotient` once per input.

    ``specs``: iterable of ``(df, id_col, fingerprint)`` or
    ``(df, id_col, fingerprint, collapsible)`` tuples, all on one
    SparkSession. Returns ``[(reps, mapping), ...]`` in spec order.
    """
    specs = [tuple(s) + (None,) * (4 - len(s)) for s in specs]
    if not specs:
        return []
    ms = [
        _quotient_pairs_frame(df, id_col, fingerprint, collapsible)
        for df, id_col, fingerprint, collapsible in specs
    ]
    # arm selection from EXACT counts, BEFORE any checkpoint: one fused
    # fingerprint-shuffle detection job is the whole cost of the bypass arm
    # (twin-free inputs skip the group-table checkpoint, the mapping, the
    # semi-join, and every expansion join). Exact counts, never planner
    # stats — checkpoint stats underestimate, and a wrong broadcast
    # downstream is the driver-OOM shape the merge-pin contract exists for.
    stats_u = None
    for i, m in enumerate(ms):
        s = _quotient_stats_frame(m, specs[i][1]).select(
            F.lit(i).alias("__q_side"), "__mx", "__dup", "__null_ids"
        )
        stats_u = s if stats_u is None else stats_u.unionByName(s)  # union-audited: each branch is one input's one-row aggregate and scans that input at most once; inputs that share an un-materialized subtree (complementary filters of one scan) replay it once per branch, the same total scan cost as one job per input
    stats = {r["__q_side"]: r for r in stats_u.collect()}
    results: list = [None] * len(specs)
    sparse_sides: list[int] = []
    dense_sides: list[int] = []
    for i, (df, id_col, _, _) in enumerate(specs):
        if (stats[i]["__null_ids"] or 0) > 0:
            raise ValueError(
                f"exact_dup_quotient requires non-NULL {id_col!r} on "
                f"every row ({stats[i]['__null_ids']} NULL-id rows "
                "found): the arms' rep filters diverge on NULL ids and "
                "a NULL-id rep cannot be expanded back"
            )
        if (stats[i]["__mx"] or 0) <= 1:
            results[i] = (df, QuotientMapping("bypass", id_col))
        elif (stats[i]["__dup"] or 0) <= _SPARSE_MAX_DUP_MEMBERS:
            sparse_sides.append(i)
        else:
            dense_sides.append(i)
    if sparse_sides:
        # ONE bounded member-collect job for every sparse input
        # (≤ _SPARSE_MAX_DUP_MEMBERS ids each, proven by the exact counts
        # above). Inputs whose id types differ cannot share a union schema
        # and collect per type bucket instead (still one job per bucket).
        id_types = {i: ms[i].schema[specs[i][1]].dataType for i in sparse_sides}
        buckets: dict[str, list[int]] = {}
        for i in sparse_sides:
            buckets.setdefault(id_types[i].simpleString(), []).append(i)
        member_rows: dict[int, list] = {i: [] for i in sparse_sides}
        for idxs in buckets.values():
            if len(idxs) == 1:
                member_rows[idxs[0]] = _quotient_members_plan(
                    ms[idxs[0]], specs[idxs[0]][1]
                ).collect()
                continue
            u = None
            for i in idxs:
                t = _quotient_members_plan(ms[i], specs[i][1]).select(
                    F.lit(i).alias("__q_side"), "__rep", "__ms"
                )
                u = t if u is None else u.unionByName(t)  # union-audited: every branch is a DIFFERENT input's bounded member aggregate — no shared un-materialized subtree to replay
            for r in u.collect():
                member_rows[r["__q_side"]].append(r)
        for i in sparse_sides:
            results[i] = _quotient_sparse(
                specs[i][0], specs[i][1], id_types[i], member_rows[i]
            )
    for i in dense_sides:
        results[i] = _quotient_dense(specs[i][0], specs[i][1], ms[i])
    return results


def both_orientations(
    pairs: DataFrame,
    a_col: str = "rep_a",
    b_col: str = "rep_b",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Emit each (a, b, *payload) row in BOTH orientations in ONE pass:
    explode a two-struct array instead of ``pairs.unionByName(swap)``.

    The union shape gives the plan TWO consumers of ``pairs``; when the
    upstream is unmaterialized (an LSH candidate pipeline, a block join +
    Levenshtein DP, an all-pairs cosine), Spark REPLAYS it once per
    branch — measured r09 on the 10× adversarial vintage: q_fuzzy_join
    ran its block join + DP twice (6.8s → 10.8s after the r09 ordered-DP
    change re-used the frame twice) and q_dedup_minhash re-ran its whole
    candidate generation per orientation. The explode evaluates each
    input row once and yields two output rows — no replay, no extra
    checkpoint job."""
    payload_cols = list(payload_cols or [])

    def _struct(a: str, b: str):
        return F.struct(
            F.col(a).alias(a_col),
            F.col(b).alias(b_col),
            *[F.col(c).alias(c) for c in payload_cols],
        )

    return pairs.select(
        F.explode(F.array(_struct(a_col, b_col), _struct(b_col, a_col))).alias("__o")
    ).select("__o.*")


def quotient_expand_pairs(
    rep_pairs: DataFrame,
    mapping: QuotientMapping,
    id_col: str,
    payload_cols: list[str] | None = None,
    self_payload: dict | None = None,
    include_self_pairs: bool = False,
    self_pairs: DataFrame | None = None,
) -> DataFrame:
    """Expand representative-level pairs from an :func:`exact_dup_quotient`
    pipeline back to member-level (id_a, id_b) pairs with ``id_a < id_b``
    — the shared tail of every pairwise-output quotient query (embed-exact,
    minhash candidates, jaccard verify).

    ``rep_pairs``: (rep_a, rep_b, *payload_cols) with rep_a < rep_b (the
    natural output of the near-dup stage over reps, whose ids are original
    ids). Member ids interleave across groups, so each rep pair is expanded
    in BOTH orientations before the ``id_a < id_b`` cut — the two
    orientations' expansions are disjoint (the smaller id's group differs),
    so no pair is emitted twice.

    ``include_self_pairs`` / ``self_payload``: when the downstream operator
    WOULD pair exact twins (identical texts are always LSH candidates —
    identical signatures collide on every band — and verify at exactly
    jaccard 1.0), multi-member groups must contribute their within-group
    pairs too; ``self_payload`` maps each payload column to the constant
    Column a twin pair carries (e.g. ``{"jaccard": F.lit(1.0)}``). Groups
    the quotient left singleton (collapsible=False rows) never appear here,
    matching the direct path's refusal to self-connect them.

    ``self_pairs``: alternative to the literal ``self_payload`` for callers
    whose within-group payload is COMPUTED from the representative's own
    data (e.g. the identical-vector cosine fold) — a rep-level
    (rep_a == rep_b, *payload_cols) frame, unioned after orientation (a
    self pair must not be double-oriented). Callers branch on
    ``mapping.twin_free`` before building it (bypass has no groups ≥2).

    Expansion dispatches on the mapping arm (see :class:`QuotientMapping`):
    bypass = rep pairs ARE the answer (rep_a < rep_b already holds, no
    multi-member group exists); sparse = broadcast-explode, no shuffle of
    the pair stream; dense = the r09 merge-pinned joins (the mapping is
    corpus-proportional behind a checkpoint whose stats underestimate — a
    broadcast build over it is the driver-OOM shape the merge-pin contract
    exists for (PLANS.md); dense callers materialize the mapping, it feeds
    2 consumers).
    """
    payload_cols = list(payload_cols or [])
    if include_self_pairs or self_payload is not None:
        # validate BEFORE arm dispatch so a bad call fails identically on
        # every input (the bypass arm would otherwise mask it)
        if payload_cols and (
            self_payload is None or set(self_payload) != set(payload_cols)
        ):
            raise ValueError(
                "self_payload must supply exactly the payload_cols "
                f"({payload_cols}) for within-group twin pairs"
            )
    if mapping.twin_free:
        if self_pairs is not None:
            # fail-on-every-input, mirroring the self_payload validation
            # above: a caller that built self_pairs unconditionally would
            # otherwise lose those rows with no error on twin-free corpora
            # (documented contract: branch on mapping.twin_free first)
            raise ValueError(
                "self_pairs passed to quotient_expand_pairs on a bypass "
                "(twin-free) mapping — no multi-member group exists, so "
                "these rows would be silently discarded; gate the "
                "self_pairs build on `not mapping.twin_free`"
            )
        # every group is a singleton: reps ARE members, rep_a < rep_b by
        # construction, and there are no within-group pairs to add — the
        # whole expansion (orientation explode + 2 joins + filter)
        # disappears from the plan
        return rep_pairs.select(
            F.col("rep_a").alias("id_a"),
            F.col("rep_b").alias("id_b"),
            *payload_cols,
        )
    both = both_orientations(rep_pairs, payload_cols=payload_cols)
    if include_self_pairs or self_payload is not None:
        selfp = mapping.multi_sizes().select(
            F.col("__rep").alias("rep_a"),
            F.col("__rep").alias("rep_b"),
            *[(self_payload or {})[c].alias(c) for c in payload_cols],
        )
        both = both.unionByName(selfp)
    if self_pairs is not None:
        both = both.unionByName(
            self_pairs.select("rep_a", "rep_b", *payload_cols)
        )
    expanded = mapping.expand(both, "rep_a", "id_a")
    expanded = mapping.expand(expanded, "rep_b", "id_b")
    return expanded.filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", *payload_cols
    )


_CC_MAX_ITERS = 25


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
) -> DataFrame:
    """Connected components by min-label propagation — the cluster step a
    production dedup needs after pairwise near-dup detection: pairs (A,B),
    (B,C) must collapse to ONE surviving document, not two independent
    pair-survivors.

    ``vertices`` has ``id_col``; ``edges`` has (id_a, id_b). Returns
    (id_col, cluster_id) where cluster_id = min id reachable through the
    edge graph (isolated docs are their own cluster).

    The iterative-algorithm pattern (same shape as Lloyd training in
    similarity.py): a driver loop of DISTRIBUTED steps — each iteration is
    one equi-join (labels onto edge endpoints) + one min-aggregate + one
    pointer-doubling compression (label ← label's label, the classic
    pointer-jumping step from the MapReduce connected-components
    literature), with ``localCheckpoint`` truncating the lineage so the
    plan doesn't grow with iterations. Only a converged-yet boolean ever
    reaches the driver. Compression halves the remaining label-chain depth
    every round, so convergence is O(log diameter); it is skipped for the
    first two rounds, where plain propagation alone already converges the
    common shallow (diameter 2-3) near-dup graphs at one join per round
    instead of two. A diameter-300
    near-dup chain (adversarially long, but real corpora produce them)
    converges in ~10 rounds where plain min-propagation needs 299 and
    would blow the iteration bound. Raises if ``_CC_MAX_ITERS`` is hit without
    convergence rather than returning a silently-wrong partial clustering
    (2^25 diameter is unreachable in practice).
    """
    # both orientations via ONE explode pass (r10): the union-of-swap shape
    # made `edges` — often a whole un-materialized candidate+verify
    # pipeline (q_dedup_clusters/semantic) — a two-consumer subtree that
    # the lazy materialize's FIRST action replayed once per branch. Caught
    # by lint rule 6 (tools/lint_null_semantics.py), the r09
    # orientation-replay class.
    e = (
        both_orientations(
            edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            a_col="src",
            b_col="dst",
        )
        .distinct()
        .transform(materialize, eager=False)  # reused every iteration
    )
    # iterate ONLY over edge-incident vertices: at corpus scale near-dup
    # edges touch a small fraction of documents, and dragging every
    # isolated doc through every iteration's shuffle would dominate the
    # cost. Isolated docs are appended as their own cluster at the end —
    # one anti-join, no iterations.
    labels = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .select(F.col("id"), F.col("id").alias("label"))
        .transform(materialize, eager=False)
    )
    converged = None
    for it in range(_CC_MAX_ITERS):
        msgs = e.join(labels, e["src"] == labels["id"]).select(
            F.col("dst").alias("id"), F.col("label"), F.lit(None).cast("long").alias("old")
        )
        # carry the previous label through the min-aggregate (labels
        # contributes exactly one row per id, so max(old) IS the old label):
        # convergence then reads off the aggregated frame itself — a filter
        # over the just-checkpointed blocks instead of a second join of two
        # label tables per iteration
        propagated = (
            labels.select("id", "label", F.col("label").alias("old"))
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .transform(materialize)
        )
        # shallow-graph fast path: real near-dup graphs are mostly
        # diameter 2-3 and converge inside the first plain-propagation
        # rounds — the compression self-join (one sort-merge join + one
        # extra eager checkpoint) would be pure constant-factor overhead
        # there, paid on every catalog run. Skip it for the first two
        # rounds; from round 3 on pointer-doubling kicks in so
        # adversarially deep chains still converge in O(log d) (the
        # 300-node path test exercises exactly that arm).
        if it < 2:
            new_labels = propagated
        else:
            # pointer-doubling compression: label ← label's label. Every
            # label value is itself an edge-incident vertex id (labels start
            # as self and only ever move to a smaller reachable id), so the
            # inner self-join is total. merge-pinned: both sides are the
            # vertex-scaled checkpointed frame — LogicalRDD stats
            # underestimate, and a broadcast build over it is the
            # driver-OOM shape the merge-pin contract exists for (PLANS.md).
            rep = propagated.select(
                F.col("id").alias("__rid"), F.col("label").alias("__rlabel")
            )
            new_labels = (
                propagated.join(
                    rep.hint("merge"), propagated["label"] == rep["__rid"], "left"
                )
                # coalesce is defensive: the join is total by the invariant
                # above; a left join can only ever keep a row, never lose one
                .select(
                    "id",
                    F.coalesce(F.col("__rlabel"), F.col("label")).alias("label"),
                    "old",
                )
                .transform(materialize)
            )
        labels = new_labels.select("id", "label")
        # isEmpty, not limit(1).count(): the limit's generated counter field
        # is renamed on every build, so that probe compiled fresh classes on
        # every run and added a shuffle job for the count
        if new_labels.filter(F.col("label") < F.col("old")).isEmpty():
            converged = labels
            break
    if converged is None:
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ITERS} iterations — "
            "component diameter exceeds the bound; raise _CC_MAX_ITERS"
        )
    isolated = vertices.select(F.col(id_col).alias("id")).join(
        converged.select("id"), "id", "left_anti"
    ).select(F.col("id"), F.col("id").alias("label"))
    return (
        converged.unionByName(isolated)
        .select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint over whitespace tokens.

    Per token: a ``bits``-wide hash from the md5 hex prefix; per bit:
    +1 if set else -1; sum over tokens; fingerprint bit = (sum > 0).
    Near-duplicates differ in few bits (Hamming distance).

    Built as ``bits`` conditional-sum aggregates over exploded tokens —
    one shuffle on doc id with full partial aggregation. 32 bits keeps the
    md5-hex→int conversion inside a signed 64-bit range in every engine.
    """
    tok = fan_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), WS_RE)).alias("tok"),
    )
    # first 8 hex chars → 32-bit int (always positive in a long)
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    tok = tok.withColumn("__h", h)
    # per-bit aggregates and the fingerprint fold as parsed SQL strings:
    # the Column-operator loop costs ~8 py4j round-trips per bit (r12 opt;
    # construction wall only — the parsed trees, hence the values, are
    # identical)
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(__h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS b{i}"
        )
        for i in range(bits)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    fp = " + ".join(
        f"CAST(CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END AS BIGINT)"
        for i in range(bits)
    )
    return sums.select(F.col(id_col), F.expr(f"({fp}) AS simhash"))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint as TWO 32-bit halves — the tuned method
    default (r12, picked from the q_simhash_recall sweep matrix in
    tools/sweep_simhash.py): at 32 bits the corpus's shared vocabulary
    collides fingerprints so badly that the Hamming ≤ 3 verify stage ran
    at precision 0.0015–0.03; 64 bits with an 8×8-band / Hamming ≤ 5 cut
    holds recall EXACTLY equal to the old config on both measured
    vintages (0.92 sf0.01 / 0.75 sf0.1) while lifting precision 19.6× /
    36.7× (0.6216 / 0.055).

    Representation: ``simhash_lo`` = bits 0–31 (per-token hash from md5
    hex chars 1–8, the 32-bit :func:`simhash` construction verbatim) and
    ``simhash_hi`` = bits 32–63 (an independent 32-bit hash from hex
    chars 9–16). Two positive longs keep every value and every banding
    shift inside signed-BIGINT range on BOTH engines — a single 64-bit
    column would need bit 63 and overflow DuckDB's BIGINT arithmetic.
    Hamming(a, b) = bit_count(lo⊕lo) + bit_count(hi⊕hi).

    Same execution shape as :func:`simhash`: 64 conditional-sum
    aggregates over exploded tokens, one shuffle on doc id with full
    map-side partial aggregation.
    """
    tok = fan_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), WS_RE)).alias("tok"),
    )
    # ONE md5 per token; both 32-bit halves sliced from it. Expression
    # construction as parsed SQL strings — the Column-operator loop built
    # ~192 Column objects at ~8 py4j round-trips each, 1.2 s of the
    # query's 2.0 s wall at sf0.1 (r12 opt measurement; trees and values
    # identical).
    tok = tok.withColumn("__md5", F.md5(F.col("tok"))).selectExpr(
        id_col,
        "CAST(conv(substring(__md5, 1, 8), 16, 10) AS BIGINT) AS __lo",
        "CAST(conv(substring(__md5, 9, 8), 16, 10) AS BIGINT) AS __hi",
    )
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright({h}, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS {p}{i}"
        )
        for p, h in (("a", "__lo"), ("b", "__hi"))
        for i in range(32)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    halves = [
        " + ".join(
            f"CAST(CASE WHEN {p}{i} > 0 THEN {2 ** i} ELSE 0 END AS BIGINT)"
            for i in range(32)
        )
        for p in ("a", "b")
    ]
    return sums.select(
        F.col(id_col),
        F.expr(f"({halves[0]}) AS simhash_lo"),
        F.expr(f"({halves[1]}) AS simhash_hi"),
    )
