"""Deduplication operators for the training-data pipeline north star.

Exact (content-hash), MinHash+LSH, SimHash, and n-gram Jaccard — all
pure Catalyst. Hashing uses md5 (bit-identical in every engine) rather
than Spark's xxhash64, so every stage is reproducible by the ANSI-SQL
oracle and stable across Spark upgrades.

Scale notes (100 TB):
- exact dedup: one hash-groupBy shuffle on a 32-char key, map-side
  partial agg; no raw-text shuffle (only doc_id + digest move).
- MinHash/LSH: signature table is k×32 bytes per doc regardless of doc
  size; candidate generation is an equi-join on (band, band_hash) —
  shuffle keyed on the band hash, never a cross join.
- n-gram Jaccard verification runs only on LSH candidates (or within
  a blocking key), never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content-hash groups: (digest, canonical_id, n_dups) per distinct
    text, canonical = smallest id (deterministic survivor)."""
    return (
        docs.withColumn("digest", F.md5(F.col(text_col)))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
    )


def _token_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos, tok) — the word tokenizer under every word-gram
    table (:func:`doc_shingles`, :func:`_tf_term_table`). posexplode
    instead of array-lambda shingling: Spark's higher-order functions
    (transform/filter lambdas) run interpreted, outside whole-stage
    codegen — measured 2× slower than this fully codegen'd token-table
    formulation.
    INVARIANT: the split/trim/lower/non-empty filter must stay
    equivalent to functions.text.tokens() — near_dup_components'
    zero-shingle gate tests token_count(text) >= n as "this doc has a
    shingle", and tests/test_dedup.py pins the equivalence on tricky
    whitespace; change both or neither."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "tok")
    ).filter(F.col("tok") != "")


def doc_shingles(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) — distinct n-gram word shingles per document:
    the :func:`_token_table` tokens joined by a lead window. The
    window's doc_id shuffle doubles as the pre-partitioning for the
    distinct that follows."""
    from pyspark.sql import Window

    tok_tbl = _token_table(docs, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("tok")] + [
        F.lead("tok", i).over(w).alias(f"__t{i}") for i in range(1, n)
    ]
    out = tok_tbl.select("doc_id", *cols)
    if n > 1:
        out = out.filter(F.col(f"__t{n - 1}").isNotNull())
    return out.select(
        "doc_id",
        F.concat_ws(" ", "tok", *[f"__t{i}" for i in range(1, n)]).alias(
            "shingle"
        ),
    ).distinct()


def doc_jaccard(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) from a set-similarity pair table
    (key_a, key_b, n_shared, sz_a, sz_b) over doc shingles: one exact
    IEEE division at the edge — the threshold was applied upstream in
    integer form."""
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    return pairs.select(
        F.col("key_a").alias("doc_a"),
        F.col("key_b").alias("doc_b"),
        (F.col("n_shared") / union_sz.cast("double")).alias("jaccard"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All doc pairs with n-gram shingle Jaccard ≥ num/den: the exact
    :func:`~.similarity.set_similarity_join` over :func:`doc_shingles`
    (no cross join: pairs only materialize for docs sharing ≥1
    shingle). The join's stats pick the single-join or prefix-filtered
    path (:func:`~.similarity.choose_exact_path`); on the committed
    corpora no shingle is hot enough for the prefix filter, so this
    runs the single join at every scale.

    The shingle table is persisted: the stats jobs and both join
    sides read it, so the corpus tokenizes once."""
    from .similarity import set_similarity_join

    sh = doc_shingles(docs, n, id_col, text_col).persist()
    return doc_jaccard(
        set_similarity_join(sh, "doc_id", "shingle", threshold_num, threshold_den)
    )


def script_doc_shingles(
    docs: DataFrame,
    n_word: int = 3,
    n_char: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingle) ROUTED BY SCRIPT — the near-dup feature set
    that survives scriptio continua. Word shingles are BLIND to
    CJK/Thai text: a Chinese document is one whitespace token, so it
    has ZERO 3-gram word shingles, an all-NULL MinHash signature, and
    is invisible to the entire LSH family — near-dup Chinese crawl
    pages simply never deduplicate. Continua-majority documents
    (functions/scriptq.py:is_continua, the same routing predicate the
    quality gates use) therefore emit sliding CHAR ``n_char``-gram
    shingles of the lowered text, everything else the standard
    ``n_word``-gram word shingles of :func:`doc_shingles`.

    Two filtered branches over the source (each fully codegen'd — the
    word side keeps doc_shingles' posexplode+window formulation, the
    char side is explode(sequence)+substring) unioned; the routing
    predicate is two regex counts, cheap to evaluate twice. Char
    shingle space is position-free (distinct), so the MinHash/Jaccard
    semantics downstream are unchanged — only the feature universe is
    per-route."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scriptq import (
        is_continua,
    )

    s = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    word_side = doc_shingles(
        docs.filter(~is_continua(s)), n_word, id_col, text_col
    )
    char_side = (
        docs.filter(is_continua(s) & (F.length(s) >= n_char))
        .select(F.col(id_col).alias("doc_id"), s.alias("s"))
        .select(
            "doc_id",
            "s",
            F.explode(
                F.sequence(F.lit(1), F.length("s") - (n_char - 1))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.substring(F.col("s"), F.col("i"), n_char).alias("shingle"),
        )
        .distinct()
    )
    return word_side.unionByName(char_side)


def minhash_signatures(
    docs: DataFrame,
    k: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per doc: hash function i is
    md5(i ':' shingle); the signature component is the lexicographic
    min digest. One groupBy over the shingle table computes all k
    components (k min-aggregates, map-side combined). ``shingles``
    substitutes a pre-built (doc_id, shingle) table — the
    script-routed feature set of :func:`script_doc_shingles` — for
    the default word shingling; everything downstream (bands, pairs,
    components) is feature-set agnostic."""
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(docs, n, id_col, text_col)
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_scheme(k: int = 8, bands: int = 4, n: int = 3) -> dict:
    """The canonical scheme stamp for a MinHash band table — the SAME
    dict ``streaming/incremental.py:_pin_index_scheme`` writes for the
    band ingest index, derived here so batch scoring can check a
    loaded index's stamp scan-lessly (the simhash
    :func:`hamming_block_scheme` pattern): band hashes are comparable
    only within one (k, bands, n) scheme — a drifted parameter makes
    the (band, band_hash) equi-join silently return zero candidates,
    the same near-dup-loss class the block-side guard closes."""
    return {
        "kind": "minhash_bands",
        "k": int(k),
        "bands": int(bands),
        "n": int(n),
    }


def _require_band_scheme(scheme: dict, k: int, bands: int, n: int) -> None:
    """Per-field comparison of the KNOWN scheme keys (round-11 ADVICE:
    whole-dict equality broke forward compatibility — a stamp carrying
    any extra metadata key written by a future version failed even
    when kind/k/bands/n matched, mirroring _require_block_scheme's
    per-field checks instead)."""
    expected = minhash_band_scheme(k, bands, n)
    mism = []
    for field in ("kind", "k", "bands", "n"):
        got = scheme.get(field)
        want = expected[field]
        if field != "kind":
            try:
                got = int(got)
            except (TypeError, ValueError):
                pass
        if got != want:
            mism.append(f"{field}: stamp {scheme.get(field)!r}, caller {want!r}")
    if mism:
        raise ValueError(
            f"band-index scheme mismatch ({'; '.join(mism)}) — band "
            "hashes from two schemes never match each other, so "
            "candidates would silently vanish; score with the index's "
            "own parameters or rebuild the index"
        )


def verify_band_table(index_bands: DataFrame, bands: int) -> None:
    """Stamp-less fallback check for a materialized band table: the
    band ids must span exactly ``bands`` values (one scalar
    column-pruned max aggregate — bounded even at index scale).
    NECESSARY, not sufficient: a ``k`` or ``n`` drift at equal
    ``bands`` produces incomparable band HASHES this cannot see —
    the ``_scheme.json`` stamp (``scheme=``) is the exact check and
    the one to prefer wherever the index came from the ingest
    stream."""
    row = index_bands.agg(F.max("band").alias("mx")).collect()[0]
    if row.mx is None:
        return  # empty index: no banding evidence either way
    if int(row.mx) + 1 != int(bands):
        raise ValueError(
            f"band index carries {int(row.mx) + 1} band ids but the "
            f"scoring parameters say bands={bands}: the index was "
            "built under a different banding and candidates would "
            "silently vanish — score with the index's own parameters "
            "(see its _scheme.json stamp) or rebuild"
        )


def minhash_band_rows(k: int, bands: int):
    """One (band, band_hash) row per band of a k-wide mh_0..mh_{k−1}
    signature: band b hashes its r = k/bands components as
    md5(concat_ws('|', mh_{b·r}, …)). THE band hash of the document
    index (:func:`minhash_bands`) and of the generic set join
    (``similarity.set_similarity_join_lsh``). One generator expression
    instead of a bands-way union: a union of N selects over the
    signature table re-runs the whole signature computation N times;
    explode(array(...)) computes it once and fans out rows in place."""
    if k % bands:
        raise ValueError(f"k must divide evenly into bands: k={k}, bands={bands}")
    r = k // bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(f"mh_{i}") for i in range(b * r, (b + 1) * r)],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ]
        )
    )


def minhash_bands(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_hash) band table — the linear-size LSH
    index over a document set. Factored out of
    :func:`minhash_lsh_pairs` so the streaming ingest index
    (streaming/incremental.py:incremental_band_index_stream) and the
    batch candidate join share one definition: a doc's band rows are a
    pure function of its text, which is what makes the index
    incrementally maintainable (append-only per doc). ``shingles``
    forwards to :func:`minhash_signatures` (script-routed feature
    sets)."""
    bb = minhash_band_rows(k, bands)
    sig = minhash_signatures(docs, k, n, id_col, text_col, shingles=shingles)
    return sig.select("doc_id", bb.alias("bb")).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def signature_digest(bands_df: DataFrame) -> DataFrame:
    """(doc_id, __sig): the whole-signature class key — the doc's
    band-ordered (band, band_hash) chain, md5'd. Same digest ⟺
    identical band ROW SET: the band id is part of each chain link
    (round 10 — chaining hashes alone made two docs with different
    PARTIAL band sets but equal hash values collide, e.g. {(0,h)} vs
    {(1,h)}; full minhash_bands output always carries every band per
    doc, so complete signatures were never affected — hypothesis
    found the hole on arbitrary band tables). THE shared definition
    for every signature-class quotient — near_dup_components' star
    expansion and the scale probes — whose equivalence arguments
    require the class key to be the same function everywhere."""
    return bands_df.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("band", "band_hash"))
                    ),
                    lambda s: F.concat_ws(
                        ":", s["band"].cast("string"), s["band_hash"]
                    ),
                ),
                "|",
            )
        ).alias("__sig")
    )


def lsh_pairs_from_bands(bands_df: DataFrame) -> DataFrame:
    """Candidate pairs from a band table (materialized index or the
    in-plan :func:`minhash_bands` output): equi self-join on
    (band, band_hash), doc_a < doc_b, deduped. Assumes one row per
    (doc_id, band) — what minhash_bands emits and what the keyed
    incremental index stores.

    A bucket of g docs costs g² join rows, and g byte-distinct docs
    that share a whole signature fill ``bands`` such buckets. There is
    deliberately no hot-bucket quotient here: at g=256 planted
    boilerplate (SCALE_PROBE_r8 lsh_hotband) the plain codegen'd hash
    join cleared the 52M band-join rows in 3.8 s where the quotient's
    extra exchanges and skewed expansion joins took 24.5 s, and the
    C(g,2) output floor is paid either way. Clustering consumers avoid
    the clique altogether through the signature-class star route of
    :func:`~.components.near_dup_components`."""
    a = bands_df.alias("a")
    b_ = bands_df.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs: split the k-wide signature into ``bands``
    bands of k/bands rows; docs agreeing on any full band are
    candidates. Join is equi on (band_idx, band_hash) — shuffles hash
    keys only, scales linearly with corpus size."""
    # Persist: the band table feeds both sides of the candidate
    # self-join; it is k×32B per doc — tiny relative to the corpus.
    bands_df = minhash_bands(docs, k, bands, n, id_col, text_col).persist()
    return lsh_pairs_from_bands(bands_df)


def minhash_lsh_pairs_script(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n_word: int = 3,
    n_char: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`minhash_lsh_pairs` over the SCRIPT-ROUTED feature set
    (:func:`script_doc_shingles`) — candidate pairs that still exist
    for CJK/Thai documents, which the word-shingle path drops
    entirely (zero shingles → no signature → no bands). Identical
    plan shape: signatures, bands, (band, band_hash) equi self-join,
    because everything below the shingle table is feature-set
    agnostic."""
    sh = script_doc_shingles(docs, n_word, n_char, id_col, text_col)
    bands_df = minhash_bands(
        docs, k, bands, n_word, id_col, text_col, shingles=sh
    ).persist()
    return lsh_pairs_from_bands(bands_df)


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 64,
    weighted: bool = False,
) -> DataFrame:
    """64-bit SimHash over distinct tokens (round 10 — the 32-bit
    signature SATURATES at crawl scale: birthday-paired false
    near-dups that no downstream verification can catch, because the
    Hamming check is against the saturated signature itself). Bit j
    of the signature is the majority vote of bit j across token
    digests; token bits come from TWO md5 nibble-lanes — bits 0–31
    are the top bit (value ≥ 8) of hex nibble j, bits 32–63 the
    second bit (value in {4..7, c..f}) of hex nibble j−32 — so the 64
    token bits are 64 distinct independent md5 bits while the whole
    computation stays portable SQL (substr + IN over the hex string,
    no hex→int builtins). Bit 63's place value is −2⁶³ (two's
    complement), making the signature an ordinary BIGINT in both
    engines.

    ``weighted`` (round 11, VERDICT r10 #6) selects Manku's
    term-frequency-weighted vote — each bit's tally is Σ tf·(±1)
    over distinct tokens, i.e. every OCCURRENCE votes — where the
    default distinct-token (set-)SimHash votes each token once. On
    long repetitive documents the unweighted vote under-represents
    dominant tokens; the weighted form tracks them at the cost of
    being movable by boilerplate repetition (the reason set-SimHash
    stays the registered default). Implementation is the same plan
    minus the pre-vote ``distinct()`` — summing ±1 per occurrence IS
    the tf-weighted sum, with no per-token count column or extra
    shuffle (the groupBy's map-side combine absorbs the multiplicity
    exactly as it absorbed the distinct's)."""
    assert nbits <= 64
    hi = ("8", "9", "a", "b", "c", "d", "e", "f")
    mid = ("4", "5", "6", "7", "c", "d", "e", "f")
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    if not weighted:
        tok = tok.distinct()
    tok = tok.withColumn("h", F.md5(F.col("tok")))
    votes = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin(*hi)
                if j < 32
                else F.substring("h", j - 31, 1).isin(*mid),
                1,
            ).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(nbits)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(nbits):
        place = 2**j if j < 63 else -(2**63)
        bit = F.when(F.col(f"v_{j}") > 0, F.lit(place).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return voted.select("doc_id", sig.alias("simhash"))


def simhash_banding(
    max_hamming: int,
    nbits: int = 64,
    min_key_bits: int = 16,
    max_bands: int = 256,
) -> tuple[list[int], list[tuple[int, ...]]]:
    """Choose the Manku blocking for a Hamming budget: split ``nbits``
    into B = ``max_hamming`` + m near-equal blocks and key candidates
    on every m-combination of blocks (C(B, m) "virtual bands"). By
    pigeonhole, hamming ≤ h leaves ≥ B − h = m blocks EXACTLY equal,
    so some combination matches — the cover is complete at every m.
    m is the SMALLEST value whose worst-case key (the m narrowest
    blocks) carries ≥ ``min_key_bits`` bits: under the ~uniform
    signatures real corpora produce, a w-bit key splits the corpus
    into ~2^w buckets, so the candidate join is Θ(C(B,m)·n²/2^w) —
    sub-16-bit keys (the old 32-bit path's 8-bit blocks at h=3) go
    effectively quadratic at crawl scale, which is the failure this
    selector exists to refuse. Returns (block widths, combinations).

    h ≤ 3 at 64 bits keeps the classic one-block-per-band cover
    (m=1); h = 4..6 move to m=2 (15/21/28 combinations), h = 7..8 to
    m=3 (120/165); at h ≥ 9 no m under ``max_bands`` = 256 clears the
    key floor — C(B, m) blows past it (storage and join fan-out scale
    linearly with the combination count — 2⁵⁶-row index tables are
    not a blocking strategy) and this raises rather than quietly
    degrading on either axis."""
    if not 0 <= max_hamming < nbits:
        raise ValueError(f"max_hamming must be in [0, {nbits}): {max_hamming}")
    import itertools
    import math

    for m in range(1, nbits + 1):
        B = max_hamming + m
        if B > nbits or math.comb(B, m) > max_bands:
            break
        widths = [nbits // B + (1 if i < nbits % B else 0) for i in range(B)]
        if sum(sorted(widths)[:m]) >= min(min_key_bits, nbits):
            return widths, list(itertools.combinations(range(B), m))
    raise ValueError(
        f"no blocking of {nbits} bits meets min_key_bits={min_key_bits} "
        f"within max_bands={max_bands} at max_hamming={max_hamming} — "
        "lower the budget or the key floor"
    )


def hamming_block_scheme(
    max_hamming: int = 3,
    nbits: int = 64,
    min_key_bits: int = 16,
    weighted: bool = False,
) -> dict:
    """The canonical scheme stamp for a SimHash block table — the SAME
    dict shape ``streaming/incremental.py:_pin_index_scheme`` writes to
    ``_scheme.json`` on first build, derived here so the batch path and
    the ingest path can never describe one blocking two ways. ``widths``
    + ``max_hamming`` fully determine the combination banding (B =
    len(widths) blocks, m = B − max_hamming keys per doc), so comparing
    stamps is an EXACT blocking-equality check — no table scan needed.
    ``weighted`` (the tf-vote signature variant) adds a ``"vote": "tf"``
    key — set-vote stamps stay byte-identical to the round-10 form, so
    existing indexes keep matching — because the VOTE MODE is part of
    the scheme too: a weighted-signature index queried with set-vote
    signatures never matches (same silent near-dup-loss class as a
    width change)."""
    widths, combos = simhash_banding(max_hamming, nbits, min_key_bits)
    scheme = {
        "kind": "simhash_blocks",
        "nbits": int(nbits),
        "max_hamming": int(max_hamming),
        "widths": widths,
        "n_combos": len(combos),
    }
    if weighted:
        scheme["vote"] = "tf"
    return scheme


def _require_block_scheme(
    scheme: dict,
    max_hamming: int,
    nbits: int,
    weighted: bool = False,
) -> tuple[list[int], list[tuple[int, ...]]]:
    """Validate a parsed ``_scheme.json`` stamp against the caller's
    SEMANTIC parameters (max_hamming = the Hamming budget, nbits, the
    vote mode) and return the stamp's own (widths, combinations) — the
    free, scan-less form of the blocking-consistency check (round 11,
    VERDICT r10 #1). The stamp is the AUTHORITY for the banding
    itself: ``min_key_bits`` is a build-time selector input the stamp
    already encodes as ``widths``, so scheme-driven callers never
    restate it (restating it wrongly was just another way to lose the
    cover)."""
    widths, combos = _banding_from_scheme(scheme)  # validates shape
    mism = []
    if int(scheme["max_hamming"]) != int(max_hamming):
        mism.append(
            f"max_hamming: stamp {scheme['max_hamming']}, caller {max_hamming}"
        )
    if int(scheme["nbits"]) != int(nbits):
        mism.append(f"nbits: stamp {scheme['nbits']}, caller {nbits}")
    if bool(weighted) != (scheme.get("vote") == "tf"):
        mism.append(
            f"vote: stamp {scheme.get('vote', 'set')!r}, caller "
            f"{'tf' if weighted else 'set'!r}"
        )
    if mism:
        raise ValueError(
            f"block-table scheme mismatch ({'; '.join(mism)}) — keys "
            "or signatures from two schemes never match each other, "
            "so the pigeonhole cover would be silently lost (missed "
            "near-dups, no error); query with the table's own "
            "parameters or rebuild the table"
        )
    return widths, combos


def verify_block_table(
    blocks: DataFrame,
    max_hamming: int = 3,
    nbits: int = 64,
    min_key_bits: int = 16,
) -> None:
    """Assert that a materialized block table's combination count
    matches the blocking ``(max_hamming, nbits, min_key_bits)`` implies:
    ``max(blk) + 1`` must equal C(B, m) from :func:`simhash_banding`.
    One scalar column-pruned aggregate (map-side combined — a bounded
    int scan even at 100 TB index size). This catches every cross-
    budget mismatch (a table built at h=3 carries 4 combination ids,
    h=6 expects 28) but is a NECESSARY, not sufficient, check: two
    different blockings with coincidentally equal combination counts
    would pass — pass the table's ``_scheme.json`` stamp via
    ``scheme=`` for the exact equality check where one exists
    (streaming/incremental.py:read_index_scheme)."""
    _, combos = simhash_banding(max_hamming, nbits, min_key_bits)
    row = blocks.agg(F.max("blk").alias("mx")).collect()[0]
    if row.mx is None:
        return  # empty table: no blocking evidence either way
    if int(row.mx) + 1 != len(combos):
        raise ValueError(
            f"block table carries {int(row.mx) + 1} combination ids but "
            f"max_hamming={max_hamming}, nbits={nbits}, "
            f"min_key_bits={min_key_bits} implies {len(combos)}: the "
            "table was built under a different blocking and the "
            "pigeonhole cover does not hold — querying it would "
            "silently miss near-dups; use the parameters the table "
            "was built with (see its _scheme.json stamp) or rebuild"
        )


def _banding_from_scheme(scheme: dict) -> tuple[list[int], list[tuple[int, ...]]]:
    """Reconstruct (widths, combinations) from a ``_scheme.json`` stamp
    — the stamp's ``widths`` + ``max_hamming`` determine the banding
    without knowing the ``min_key_bits`` that originally selected it."""
    import itertools
    import math

    if scheme.get("kind") != "simhash_blocks":
        raise ValueError(f"not a simhash block scheme: {scheme}")
    widths = [int(w) for w in scheme["widths"]]
    B = len(widths)
    m = B - int(scheme["max_hamming"])
    if m < 1 or math.comb(B, m) != int(scheme["n_combos"]):
        raise ValueError(f"inconsistent block scheme stamp: {scheme}")
    # a corrupted stamp whose widths don't tile the signature would
    # silently extract wrong bit extents (round-11 ADVICE): the widths
    # must be positive and sum exactly to nbits
    if any(w < 1 for w in widths) or sum(widths) != int(scheme["nbits"]):
        raise ValueError(f"inconsistent block scheme stamp: {scheme}")
    return widths, list(itertools.combinations(range(B), m))


def simhash_blocks(
    docs: DataFrame,
    max_hamming: int = 3,
    nbits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_key_bits: int = 16,
    weighted: bool = False,
    banding: tuple[list[int], list[tuple[int, ...]]] | None = None,
) -> DataFrame:
    """(doc_id, simhash, blk, val) — the Manku multi-block
    decomposition of each document's SimHash signature under
    :func:`simhash_banding`: ``blk`` is the COMBINATION index, ``val``
    the big-endian concatenation of that combination's block values
    (≥ ``min_key_bits`` wide by construction, so candidate buckets
    keep shrinking as h grows instead of collapsing to 2⁸ slices). A
    pure function of the document text, so the row set is append-only
    per doc and SET UNION is a valid maintenance invariant — the same
    property the MinHash band index exploits for dedup-on-ingest
    (streaming/incremental.py:incremental_block_index_stream).
    Shared by the batch join (simhash_hamming_pairs), the ingest
    index, and delta-vs-index scoring, so all three agree on the
    blocking by construction. Extraction is (sig >> off) & mask —
    identical low-bit results under arithmetic (Spark) and logical
    (DuckDB) shifts, so the twin needs no sign gymnastics; the one
    full-width block (h=0) is the signature itself. ``banding``
    overrides the selector with an explicit (widths, combinations) —
    the scheme-driven path (:func:`_banding_from_scheme` on a table's
    stamp), where ``min_key_bits`` is irrelevant because the widths
    are already decided."""
    widths, combos = (
        banding
        if banding is not None
        else simhash_banding(max_hamming, nbits, min_key_bits)
    )
    offsets = [sum(widths[:i]) for i in range(len(widths))]
    sig = simhash(docs, id_col, text_col, nbits, weighted)

    def _extract(i: int):
        w = widths[i]
        if w >= 64:
            return F.col("simhash")
        return F.shiftright(F.col("simhash"), offsets[i]).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    block_structs = []
    for ci, combo in enumerate(combos):
        val = None
        for i in combo:
            piece = _extract(i)
            val = (
                piece
                if val is None
                else F.shiftleft(val, widths[i]) + piece
            )
        block_structs.append(
            F.struct(F.lit(ci).alias("blk"), val.cast("long").alias("val"))
        )
    return sig.select(
        "doc_id", "simhash", F.explode(F.array(*block_structs)).alias("bb")
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.blk").alias("blk"),
        F.col("bb.val").alias("val"),
    )


def hamming_pairs_from_blocks(
    blocks: DataFrame,
    max_hamming: int = 3,
    nbits: int = 64,
    min_key_bits: int = 16,
    scheme: dict | None = None,
    verify_blocking: bool = True,
    weighted: bool = False,
) -> DataFrame:
    """Pair extraction over an ALREADY-MATERIALIZED block table (the
    ingest index's read() or any simhash_blocks output): equi
    self-join on (blk, val), one bit_count(XOR) verification —
    identical semantics to simhash_hamming_pairs, minus the signature
    recomputation. Under the round-10 combination banding each doc
    carries C(h+m, m) rows (``blk`` = combination index, ``val`` the
    concatenated m-block key), so the FULL (max_hamming, nbits,
    min_key_bits) triple must match the blocking the table was built
    with — keys from two blockings never equal each other and a
    mismatch loses the pigeonhole cover silently (missed near-dups,
    no error). Round 11 ENFORCES that contract instead of trusting
    the caller: pass the table's ``_scheme.json`` stamp via
    ``scheme=`` (streaming/incremental.py:read_index_scheme) for an
    exact, scan-less equality check; without a stamp,
    ``verify_blocking=True`` (the default) runs one scalar
    column-pruned max(blk) aggregate and raises when the table's
    combination count disagrees with the parameters (necessary-not-
    sufficient — see :func:`verify_block_table`). The scalar check is
    a bounded column-pruned scan on a MATERIALIZED table (the ingest
    index's read(), a parquet block table); on a LAZY in-session
    `simhash_blocks` composition it would recompute the whole
    signature pipeline once for the check and again for the join —
    pass ``verify_blocking=False`` there (consistency holds by
    construction, which is what the internal callers do) or
    localCheckpoint the table first."""
    if scheme is not None:
        # ``weighted`` matters only to the stamp equality — the pair
        # extraction itself is vote-agnostic (signatures are opaque
        # 64-bit values here), but a vote-mode mismatch between table
        # and caller is the same silent-loss class as a width change.
        # min_key_bits is NOT checked: the stamp's widths already
        # encode the banding (it was only ever the selector's input).
        _require_block_scheme(scheme, max_hamming, nbits, weighted)
    elif verify_blocking:
        verify_block_table(blocks, max_hamming, nbits, min_key_bits)
    a = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "blk",
        "val",
    )
    b_ = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "blk",
        "val",
    )
    # Verify-then-dedup (round 15, guide §2.3 "shuffle fewer bytes"):
    # the bit_count(XOR) Hamming check is a per-row map over the join
    # output, so running it BEFORE the pair distinct drops every
    # over-budget candidate on the map side of the dedup exchange
    # instead of shuffling it (filter∘distinct ≡ distinct∘filter — the
    # predicate is a pure function of the pair). Measured at sf0.1,
    # h=6: 27.8M candidate rows → 18.5M survivors into the exchange,
    # and the shuffled row narrows from (ids + two 64-bit signatures)
    # to (ids + one int); the distinct phase halved (22.9 s → 11.7 s
    # isolated). ``hamming`` keys the distinct too — it is determined
    # by the pair, so the pair set is unchanged.
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b_, ["blk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def new_doc_hamming_candidates(
    index_blocks: DataFrame,
    new_docs: DataFrame,
    max_hamming: int = 3,
    nbits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_key_bits: int = 16,
    scheme: dict | None = None,
    weighted: bool = False,
    verify_blocking: bool = True,
) -> DataFrame:
    """Ingest-time scoring for the simhash block index: (new_doc_id,
    doc_id, hamming) pairs between a batch of NEW documents and the
    maintained index — only the delta is signed and blocked
    (|delta| · C(h+m, m) rows under the round-10 combination banding,
    4/doc at the default h=3), the join is equi on (blk, val) against
    the linear-size index, and unlike the MinHash path the result is
    EXACT w.r.t. the signatures (complete pigeonhole cover — no
    recall contract to carry to ingest). The FULL (max_hamming,
    nbits, min_key_bits) triple must match the blocking the index was
    built with — a delta blocked under a different banding produces
    (blk, val) keys that never equal the index's, so the equi-join
    silently returns zero candidates (round-11 ADVICE fix:
    ``min_key_bits`` is now threaded rather than silently defaulted).
    Pass the index's ``_scheme.json`` stamp via ``scheme=``
    (streaming/incremental.py:read_index_scheme): it is checked
    scan-lessly before any job runs AND becomes the authority for the
    delta's banding (``min_key_bits`` need not be restated — the
    stamp's widths already encode it). Without a stamp,
    ``verify_blocking=True`` (the default — this is the path where
    the silent-zero-candidates failure actually bites) runs one
    scalar max(blk) aggregate against the INDEX and refuses a
    combination-count mismatch; per-batch ingest loops that built the
    index in the same session may pass False. Orientation rules mirror
    new_doc_dup_candidates: self-matches excluded, the mirrored pair
    a replayed file would create (both endpoints in new batch ∩
    index) collapses to the smaller-id orientation, and WITHIN-batch
    duplicates surface through a batch self-join term so scoring
    never requires the merge to land first."""
    banding = None
    if scheme is not None:
        banding = _require_block_scheme(scheme, max_hamming, nbits, weighted)
    elif verify_blocking:
        verify_block_table(index_blocks, max_hamming, nbits, min_key_bits)
    nb = simhash_blocks(
        new_docs, max_hamming, nbits, id_col, text_col, min_key_bits,
        weighted, banding,
    ).localCheckpoint(eager=True)
    idx = index_blocks.select("doc_id", "simhash", "blk", "val")
    q = nb.select(
        F.col("doc_id").alias("new_doc_id"),
        F.col("simhash").alias("sim_q"),
        "blk",
        "val",
    )
    ix = idx.select(
        F.col("doc_id").alias("doc_id"),
        F.col("simhash").alias("sim_i"),
        "blk",
        "val",
    )
    vs_index = (
        q.join(ix, ["blk", "val"])
        .filter(F.col("new_doc_id") != F.col("doc_id"))
        .select("new_doc_id", "doc_id", "sim_q", "sim_i")
    )
    # drop the mirror when BOTH endpoints are new-batch docs already
    # present in the index (replay): keep the smaller-id orientation
    new_ids = nb.select(F.col("doc_id").alias("__nid")).distinct()
    idx_ids = idx.select(F.col("doc_id").alias("__iid")).distinct()
    both = new_ids.join(
        idx_ids, new_ids["__nid"] == idx_ids["__iid"]
    ).select(F.col("__nid").alias("__both_id"))
    vs_index = vs_index.join(
        both.select(F.col("__both_id").alias("new_doc_id")).withColumn(
            "__q_in_idx", F.lit(True)
        ),
        "new_doc_id",
        "left",
    ).join(
        both.select(F.col("__both_id").alias("doc_id")).withColumn(
            "__i_in_new", F.lit(True)
        ),
        "doc_id",
        "left",
    ).filter(
        ~(
            F.coalesce(F.col("__q_in_idx"), F.lit(False))
            & F.coalesce(F.col("__i_in_new"), F.lit(False))
        )
        | (F.col("new_doc_id") < F.col("doc_id"))
    ).select("new_doc_id", "doc_id", "sim_q", "sim_i")
    # within-batch duplicates — ONLY pairs where NEITHER endpoint is
    # indexed yet: a pair with an indexed endpoint already surfaces
    # through the vs-index term (query side = the un-indexed doc)
    q2 = nb.select(
        F.col("doc_id").alias("doc_id"),
        F.col("simhash").alias("sim_i"),
        "blk",
        "val",
    )
    within = (
        q.join(q2, ["blk", "val"])
        .filter(F.col("new_doc_id") < F.col("doc_id"))
        .join(
            idx_ids.select(F.col("__iid").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        .join(
            idx_ids.select(F.col("__iid").alias("new_doc_id")),
            "new_doc_id",
            "left_anti",
        )
        .select("new_doc_id", "doc_id", "sim_q", "sim_i")
    )
    cand = vs_index.unionByName(within).distinct()
    hamming = F.bit_count(F.col("sim_q").bitwiseXOR(F.col("sim_i")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("new_doc_id", "doc_id", "hamming")
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    nbits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_key_bits: int = 16,
    weighted: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — the Manku-style
    block LSH (the web-crawl dedup classic; reference analogue: the
    all-pairs text comparisons in cal_user_trace.py, re-expressed
    sub-quadratically): :func:`simhash_banding` splits the ``nbits``
    signature into max_hamming + m near-equal blocks and keys
    candidates on every m-combination; by pigeonhole, any pair within
    the Hamming budget agrees EXACTLY on at least one combination, so
    candidates come from an equi self-join on (combination,
    packed_value) — never an all-pairs loop — and one
    ``bit_count(a XOR b)`` verifies. Unlike MinHash banding, the
    cover is COMPLETE: zero misses and zero false positives w.r.t.
    the simhash itself (recall loss lives only in how well simhash
    approximates token overlap), so no recall contract is needed.

    Scale shape (round 10 — widened from 32 to 64 bits): the
    signature table is 8 B/doc; block rows are C(max_hamming+m, m)
    ×16 B/doc (4 rows at the default h=3, 28 at h=6); the join
    shuffles packed keys only and every key carries ≥ ``min_key_bits``
    bits — ≥ 2¹⁶ partitions of the corpus at every supported budget,
    so buckets hold n/65536-scale doc sets instead of the old 8-bit
    n/256 slices that went quadratic at crawl scale. Output is
    (doc_a, doc_b, hamming), doc_a < doc_b."""
    # verify_blocking=False: the block table is built HERE with the
    # very parameters the pair extraction uses — the consistency the
    # round-11 guard exists to enforce holds by construction.
    # ``weighted`` selects the tf-vote signature (simhash weighted=True)
    # — the Hamming geometry, banding and cover are vote-agnostic.
    # Eager localCheckpoint (round 15): the candidate self-join feeds
    # the block table to BOTH sides, and when the planner broadcasts
    # one side the whole signature pipeline (tokenize → distinct →
    # md5 → 64-lane vote aggregate) executes twice — a lazy
    # composition gets no exchange reuse through a broadcast build
    # (measured in the executed plan: two full HashAggregate subtrees,
    # ReusedExchange 0). The checkpoint computes signatures once and
    # both join sides read the materialized C(h+m, m)·n-row table —
    # the same lifecycle the banded MinHash join uses; blocks are
    # ContextCleaner-reclaimed when the result is dropped.
    blocks = simhash_blocks(
        docs, max_hamming, nbits, id_col, text_col, min_key_bits, weighted
    ).localCheckpoint(eager=True)
    # The candidate join's OUTPUT is hundreds of rows per input row on
    # near-dup-heavy corpora, but AQE sizes the probe stage by its
    # INPUT bytes — a kilobyte-scale block table coalesces to one or
    # two partitions and the whole fan-out runs on as many cores
    # (measured: the h=6 probe+dedup pinned one task for ~15 s while
    # 31 cores idled). An explicit round-robin repartition is exempt
    # from AQE coalescing, so it pins the probe parallelism; gated on
    # the materialized table's actual partition count, so a table that
    # already spans the cluster (any real corpus) is left untouched.
    par = docs.sparkSession.sparkContext.defaultParallelism
    if blocks.rdd.getNumPartitions() < par:
        blocks = blocks.repartition(par)
    return hamming_pairs_from_blocks(
        blocks,
        max_hamming,
        nbits,
        min_key_bits,
        verify_blocking=False,
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup join: ordered pairs where the containment
    C(A in B) = |A∩B| / |A| ≥ num/den (n-gram shingle sets) — the
    quote/subset detector a symmetric Jaccard join structurally
    misses: a short document wholly quoted inside a long one has
    J = |A|/|B| ≈ 0 but C = 1. The training-data curation use is
    dropping documents subsumed by longer ones (and decontamination
    of benchmark snippets embedded in web pages).

    Scale shape — the containment prefix-filter lemma: if
    |A∩B| ≥ t·|A| then among A's ⌊(1−t)·|A|⌋+1 globally-RAREST
    shingles (global order = document frequency ascending, the same
    df ranking similarity.set_similarity_join's prefix path uses) at
    least one is in B —
    so only the contained side's prefix enters the candidate join,
    against the container side's full inverted index; hot boilerplate
    shingles sort to every doc's suffix and never become join keys.
    The index is ONE persisted augmented table (df via a shingle-partition window; size and
    rarity rank sharing the doc_id exchange) feeds the prefix, the
    container side, and both verification joins — one corpus scan,
    one tokenization. Verification counts |A∩B| with two equi-joins
    against that index (never array payloads replicated per candidate
    pair). The threshold rides in cross-multiplied integer form;
    ``containment`` is one exact IEEE division at the edge. Output:
    (doc_a, doc_b, containment) = A-contained-in-B, BOTH orientations
    emitted when both qualify (a ≠ b always)."""
    num, den = int(threshold_num), int(threshold_den)
    if not 1 <= num <= den:
        raise ValueError(f"containment threshold must be in (0,1]: {num}/{den}")
    aug = _containment_index(docs, n, id_col, text_col)
    return _containment_sized_pairs(aug, num, den).select(
        "doc_a", "doc_b", "containment"
    )


def _containment_index(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """The persisted augmented shingle index under the containment
    family — (doc_id, shingle, df, sz, rk): document frequency via a
    shingle-partition window, per-doc size and df-ascending rarity
    rank sharing the doc_id exchange. ONE corpus scan / tokenization
    feeds the prefix filter, the container side, both verification
    joins, AND (round 16) the per-doc size table the subsumption
    consumers report — which previously re-tokenized the corpus in a
    second doc_shingles pass (guide §2.4: remove the duplicated
    subtree)."""
    from pyspark.sql import Window

    # df-ranked global rarity order (ties broken by shingle text so
    # both engines rank identically), each doc's prefix = the
    # ⌊(1−t)·sz⌋+1 rarest shingles, all in one augmented index
    w_sh = Window.partitionBy("shingle")
    w_doc = Window.partitionBy("doc_id")
    w_rk = Window.partitionBy("doc_id").orderBy("df", "shingle")
    return (
        doc_shingles(docs, n, id_col, text_col)
        .withColumn("df", F.count(F.lit(1)).over(w_sh))
        .withColumn("sz", F.count(F.lit(1)).over(w_doc))
        .withColumn("rk", F.row_number().over(w_rk))
        .persist()
    )


def _containment_sized_pairs(
    aug: DataFrame, num: int, den: int
) -> DataFrame:
    """Qualifying ordered containment pairs WITH both endpoint sizes:
    (doc_a, doc_b, containment, sz_a, sz_b). sz_b rides the
    container-side verification join (every index row of B carries
    B's size), so the dominance consumers need no extra size joins —
    round 16; public `containment_pairs` projects the sizes away."""
    pref = aug.filter(
        F.lit(den) * (F.col("rk") - 1) <= F.lit(den - num) * F.col("sz")
    )
    # candidates: contained-side prefix vs container-side full index
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "shingle", "sz")
        .join(
            aug.select(F.col("doc_id").alias("doc_b"), "shingle"),
            "shingle",
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("sz").alias("sz_a"))
        .distinct()
    )
    # exact |A∩B| per candidate: expand by A's shingles, keep those
    # present in B — both joins against the same persisted index.
    # sz_b is functionally dependent on doc_b, so carrying it as a
    # group key changes no cardinality.
    inter = (
        cand.join(
            aug.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            aug.select(
                F.col("doc_id").alias("doc_b"),
                "shingle",
                F.col("sz").alias("sz_b"),
            ),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.filter(
            F.lit(den) * F.col("n_shared") >= F.lit(num) * F.col("sz_a")
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_shared") / F.col("sz_a").cast("double")).alias(
                "containment"
            ),
            "sz_a",
            "sz_b",
        )
    )


def _dominates():
    """THE domination predicate over a sized ordered pair row
    (doc_a = victim, doc_b = container): strictly larger shingle set,
    ties to the smaller doc_id — a strict total order, so the
    domination digraph is a DAG. One definition shared by the greedy
    and fixpoint subsumption variants; their divergence must come
    from survival semantics alone, never from drifting order rules."""
    return (F.col("sz_b") > F.col("sz_a")) | (
        (F.col("sz_b") == F.col("sz_a")) & (F.col("doc_b") < F.col("doc_a"))
    )


def _containment_dominance(
    docs: DataFrame,
    n: int,
    threshold_num: int,
    threshold_den: int,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(sizes, with_sz): per-doc distinct shingle counts and the
    ordered containment pairs joined with both endpoints' sizes — the
    shared evidence base of :func:`subsumption_prune` (greedy) and
    :func:`subsumption_prune_fixpoint` (kernel). Both variants derive
    their verdicts from THIS table and :func:`_dominates`, so a
    change to the evidence or the order applies to both or neither
    (the greedy/fixpoint parity tests rely on that).

    Round 16: both tables now come off `_containment_index`'s ONE
    persisted augmented index — `sizes` is a distinct projection of
    its windowed per-doc count (bit-identical to the old
    doc_shingles→groupBy count, which re-ran the whole tokenize
    pipeline), and the endpoint sizes ride the verification joins
    inside `_containment_sized_pairs` instead of two extra joins
    here (guide §2.4)."""
    num, den = int(threshold_num), int(threshold_den)
    if not 1 <= num <= den:
        raise ValueError(f"containment threshold must be in (0,1]: {num}/{den}")
    aug = _containment_index(docs, n, id_col, text_col)
    with_sz = _containment_sized_pairs(aug, num, den)
    sizes = aug.select("doc_id", "sz").distinct()
    return sizes, with_sz


def subsumption_prune(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The curation ACTION the containment join implies: one row per
    document with (doc_id, sz, n_containers, kept) where a doc is
    dropped iff some other document CONTAINS it (containment ≥ t via
    ``containment_pairs``) and strictly dominates it in (shingle
    count, then smaller doc_id) order — the strict total order makes
    the rule deterministic and keeps exactly one survivor per
    mutually-contained (e.g. exact-duplicate) class instead of
    dropping both. ``sz`` is the doc's distinct n-gram shingle count
    (0 for sub-window docs, which are trivially kept: nothing can
    contain an empty set under the ≥-threshold join).

    Caveat, stated rather than hidden: the rule is GREEDY — in a
    chain A ⊂ B ⊂ C at threshold t < 1, B's container C survives but
    A is dropped on B's evidence even though containment(A in C) may
    be < t; that is the standard subsumption-pruning trade (each
    dropped doc names an EXISTING container at judgment time, not a
    surviving one). :func:`subsumption_prune_fixpoint` is the kernel
    variant that reinstates A — divergence measured on the planted
    chain (pytest) and the synthetic corpus (SCALE.md §10).
    Scale shape: containment_pairs' prefix-filtered
    plan plus one doc_id aggregation and a left join back to the
    corpus — no new quadratic stage."""
    sizes, with_sz = _containment_dominance(
        docs, n, threshold_num, threshold_den, id_col, text_col
    )
    verdicts = with_sz.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_containers"),
        F.max(_dominates()).alias("dominated"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(sizes, "doc_id", "left")
        .join(verdicts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("sz"), F.lit(0)).cast("long").alias("sz"),
            F.coalesce(F.col("n_containers"), F.lit(0))
            .cast("long")
            .alias("n_containers"),
            (~F.coalesce(F.col("dominated"), F.lit(False))).alias("kept"),
        )
    )


def _tf_term_table(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, term) WITH multiplicity — the word-``n``-gram term
    table under tf_cosine_pairs and its dense-regime probe (one
    definition, so the probe can never judge a different vocabulary
    than the join uses): the :func:`_token_table` tokens joined by a
    lead window."""
    from pyspark.sql import Window

    tok_tbl = _token_table(docs, id_col, text_col)
    if n == 1:
        return tok_tbl.select("doc_id", F.col("tok").alias("term"))
    w_lead = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(w_lead) for i in range(1, n)
    ]
    return (
        tok_tbl.select(
            "doc_id",
            parts[-1].alias("__last"),
            F.concat_ws(" ", *parts).alias("term"),
        )
        .filter(F.col("__last").isNotNull())
        .select("doc_id", "term")
    )


def tf_cosine_dense_stats(
    docs: DataFrame,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Dense-regime probe for :func:`tf_cosine_pairs` (round 10,
    VERDICT r9 #2) — the same candidate-volume statistics and
    decision rule the set-similarity router uses
    (similarity.set_similarity_stats / choose_set_similarity_path),
    computed over the DISTINCT (doc, term) table at gram size ``n``:
    Σ_term C(df,2) upper-bounds the suffix⋈index candidate rows, so
    when it says the average document would meet more than
    :data:`~.similarity.PAIRS_PER_KEY_BUDGET` partners, the vocabulary
    is too degenerate for the Bayardo maxweight prefix bound to bite
    (every doc shares every term — the Ω(U²) dense regime the
    operator's docstring documents) and no prefix ordering can fix
    it. Two scalar-only aggregate jobs. Returns the stats dict plus
    ``path`` ∈ {"exact", "lsh"} ("lsh" here meaning: do NOT run the
    exact join at this ``n``)."""
    from . import similarity

    terms = _tf_term_table(docs, int(n), id_col, text_col).distinct()
    stats = similarity.set_similarity_stats(terms, "doc_id", "term")
    stats["path"] = similarity.choose_set_similarity_path(stats)
    return stats


def tf_cosine_pairs_auto(
    docs: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_n: int = 5,
    on_dense: str = "raise",
) -> DataFrame:
    """:func:`tf_cosine_pairs` behind the dense-regime guard: probe
    the term-frequency tail at gram size ``n`` first
    (:func:`tf_cosine_dense_stats`); run the exact APSS join only
    where the maxweight prefix bound can bite.

    On a vocabulary-degenerate corpus (unigram bag-of-words over a
    ~30-word vocabulary — this repo's synthetic documents table) the
    exact join is inherently near-quadratic no matter the prefix
    order. ``on_dense`` decides the response, mirroring
    near_dup_pairs_auto's stats-first routing:

    - ``"raise"`` (default): fail loudly with the measured stats in
      the message — never silently run an Ω(U²) plan;
    - ``"escalate"``: increase ``n`` (word n-grams re-establish the
      rare-term tail the filter needs — the reason the registered
      query uses n=3) until the probe passes or ``max_n`` is
      exhausted, then raise. Escalation CHANGES the similarity
      semantics from unigram to n-gram cosine, which is why it is
      opt-in, and the chosen n is discoverable via
      tf_cosine_dense_stats."""
    from .similarity import PAIRS_PER_KEY_BUDGET

    if on_dense not in ("raise", "escalate"):
        raise ValueError(f"on_dense must be raise|escalate: {on_dense!r}")
    tried = []
    nn = int(n)
    # the requested n is always probed — a caller's n above max_n
    # must not be misdiagnosed as a measured data property
    max_n = max(int(max_n), nn)
    while nn <= max_n:
        s = tf_cosine_dense_stats(docs, nn, id_col, text_col)
        tried.append((nn, s["path"], s["cand_pairs"], s["n_keys"]))
        if s["path"] == "exact":
            return tf_cosine_pairs(
                docs, threshold_num, threshold_den, nn, id_col, text_col
            )
        if on_dense == "raise":
            break
        nn += 1
    raise ValueError(
        "tf_cosine_pairs_auto: dense regime — the candidate bound "
        f"exceeds {PAIRS_PER_KEY_BUDGET} partners per document and the "
        "maxweight prefix filter cannot prune it (degenerate "
        "vocabulary). Tried (n, verdict, cand_pairs, n_keys): "
        f"{tried}. Raise n (word n-grams restore the rare-term "
        "tail), pass on_dense='escalate', or use the MinHash-LSH "
        "near-dup path for set semantics."
    )


def subsumption_prune_fixpoint(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rounds: int = 64,
) -> DataFrame:
    """The FIXPOINT (kernel) variant of :func:`subsumption_prune`
    (round 10, VERDICT r9 #5): a doc is dropped iff some SURVIVING
    container dominates it — so in a chain A ⊂ B ⊂ C at t < 1, B
    falls to C, and A (whose only container was B, and
    containment(A in C) < t) is REINSTATED, where the greedy rule
    drops it on B's now-moot evidence. Because domination follows the
    strict total order (shingle count, then smaller doc_id), the
    "dominates" digraph is a DAG and its kernel is unique: survivors
    S are exactly the set with no internal domination edge and every
    outsider dominated from inside.

    Scale shape — containment is a PAIRWISE property, independent of
    who else survives, so the expensive prefix-filtered join runs
    ONCE (the same plan as subsumption_prune); the fixpoint iterates
    only id-membership over the materialized (victim, container)
    edge list. Round 11 cut the barrier tax the round-10 loop paid
    (measured 8.88 s vs greedy's ~2.9 s for identical output on the
    chain-free bench corpus — 5 driver actions per round, not data
    volume): the first two rounds of the general recursion have
    CLOSED FORMS computed as plain joins before any loop runs —
    every non-victim is kept, and every victim with a non-victim
    container is dropped (that container survives unconditionally) —
    so the loop iterates only over the CORE: victims all of whose
    dominating containers are victims themselves, over victim→victim
    edges. On a chain-free corpus the core is EMPTY and the loop
    body never executes (one isEmpty on a checkpointed id table —
    the entire fixpoint premium over greedy); even a pure chain
    A⊂B⊂C resolves in round zero (B dropped on C's evidence, A's
    only container B now dropped → core edgeless → A kept). When the
    core is non-trivial, each round decides every core victim whose
    containers are all decided (newly dropped = a KEPT container
    exists; newly kept = all containers dropped), so rounds ≤
    victim→victim chain depth, each one two equi-joins on a table no
    wider than two ids and exactly TWO driver actions (one
    checkpoint of the tagged state union, one count pair). Raises if
    ``max_rounds`` is exhausted (cannot happen on a DAG shorter than
    2^64 — the guard exists for bugs, not data).

    Output schema matches subsumption_prune: (doc_id, sz,
    n_containers, kept) with n_containers still counted over the FULL
    corpus (the evidence seen, not the evidence that stuck)."""
    sizes, with_sz_lazy = _containment_dominance(
        docs, n, threshold_num, threshold_den, id_col, text_col
    )
    # ONE materialization of the expensive prefix-filtered join feeds
    # both the domination edges and the evidence count
    with_sz = (
        with_sz_lazy.select("doc_a", "doc_b", "sz_a", "sz_b")
        .localCheckpoint(eager=True)
    )
    edges = with_sz.filter(_dominates()).select(
        F.col("doc_a").alias("victim"), F.col("doc_b").alias("container")
    )
    # evidence-seen count over ALL containers (dominating or not) —
    # the same definition subsumption_prune reports
    n_containers = with_sz.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_containers")
    )
    vict = edges.select(F.col("victim").alias("doc_id")).distinct()
    # closed-form round 0: a victim with a NON-victim container is
    # dropped outright — nothing dominates that container, so it is
    # kept under any fixpoint, and a kept container condemns
    dropped_now = (
        edges.join(
            vict.select(F.col("doc_id").alias("container")),
            "container",
            "left_anti",
        )
        .select(F.col("victim").alias("doc_id"))
        .distinct()
    )
    # the core: victims whose every dominating container is itself a
    # victim — the only docs whose verdict depends on recursion depth
    und = vict.join(dropped_now, "doc_id", "left_anti")
    # loop edges: victim→victim edges between two UNDECIDED core
    # members (an edge to a dropped_now container is inert — dropped
    # containers acquit — and non-victim containers are gone by
    # construction of the core)
    loop_edges = (
        edges.join(und.select(F.col("doc_id").alias("victim")), "victim", "left_semi")
        .join(
            und.select(F.col("doc_id").alias("container")),
            "container",
            "left_semi",
        )
        .localCheckpoint(eager=True)
    )
    if loop_edges.isEmpty():
        # chain-free-core fast path (ALSO the pure-chain case): every
        # core victim's containers are all dropped_now → all kept, no
        # loop, no per-round barriers
        kept_v = und
    else:
        state = (
            und.select("doc_id", F.lit("u").alias("st"))
            .localCheckpoint(eager=True)
        )
        n_und = None
        for _ in range(max_rounds):
            und = state.filter(F.col("st") == "u").select("doc_id")
            kept_v = state.filter(F.col("st") == "k").select("doc_id")
            live = loop_edges.join(
                und.select(F.col("doc_id").alias("victim")),
                "victim",
                "left_semi",
            )
            # a KEPT container condemns immediately; an UNDECIDED one
            # postpones; only all-dropped (or no) containers acquit
            condemned = (
                live.join(
                    kept_v.select(F.col("doc_id").alias("container")),
                    "container",
                    "left_semi",
                )
                .select(F.col("victim").alias("doc_id"))
                .distinct()
            )
            blocked = (
                live.join(
                    state.select(F.col("doc_id").alias("container")),
                    "container",
                    "left_semi",
                )
                .select(F.col("victim").alias("doc_id"))
                .distinct()
            )
            newly_kept = und.join(blocked, "doc_id", "left_anti")
            progress = condemned.unionByName(newly_kept)
            # ONE checkpoint of the tagged union + ONE count action
            # per round (the round-10 loop paid 3 checkpoints + 2
            # isEmpty) — condemned ∩ newly_kept = ∅ by construction
            # (condemned ⊆ blocked), so the union needs no distinct
            state = (
                und.join(progress, "doc_id", "left_anti")
                .select("doc_id", F.lit("u").alias("st"))
                .unionByName(
                    kept_v.unionByName(newly_kept).select(
                        "doc_id", F.lit("k").alias("st")
                    )
                )
                .localCheckpoint(eager=True)
            )
            counts = {
                r.st: r.n
                for r in state.groupBy("st")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            prev, n_und = n_und, counts.get("u", 0)
            if n_und == 0:
                kept_v = state.select("doc_id")
                break
            if prev is not None and n_und >= prev:
                raise RuntimeError(
                    "subsumption_prune_fixpoint: no progress — "
                    "domination order violated (non-DAG edges); this "
                    "is a bug, not a data property"
                )
        else:
            raise RuntimeError(
                f"subsumption_prune_fixpoint: not stable after "
                f"{max_rounds} rounds — the corpus holds a domination "
                "chain deeper than the budget (legitimate on "
                "version-nested corpora); raise max_rounds (cost is "
                "two id-only joins per extra round)"
            )
    # dropped = every victim that did not end up kept (dropped_now ∪
    # loop-condemned); non-victims never enter either set
    dropped = vict.join(kept_v, "doc_id", "left_anti")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(sizes, "doc_id", "left")
        .join(n_containers, "doc_id", "left")
        .join(dropped.withColumn("__dropped", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("sz"), F.lit(0)).cast("long").alias("sz"),
            F.coalesce(F.col("n_containers"), F.lit(0))
            .cast("long")
            .alias("n_containers"),
            (~F.coalesce(F.col("__dropped"), F.lit(False))).alias("kept"),
        )
    )


def tf_cosine_pairs(
    docs: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-pairs cosine similarity over TERM-FREQUENCY vectors ≥
    num/den — the Bayardo/APSS ("Scaling Up All Pairs Similarity
    Search") sparse-vector sibling of the Jaccard and embedding
    paths: weighted bag-of-words similarity, the form that separates
    reordered/repeated-token near-dups Jaccard's set semantics
    flattens.

    Exactness across engines: tf, the per-doc squared norm Σtf², and
    the pair dot product are INTEGERS, and the threshold decision is
    cross-multiplied into integer arithmetic (den²·dot² ≥
    num²·na2·nb2) — no float ever decides membership. The reported
    ``cosine`` is one correctly-rounded sqrt + one IEEE division over
    exact integers, bit-identical on any IEEE-754 engine. The
    cross-multiplied comparison runs in DECIMAL(38,0) (int64 would
    wrap silently under ANSI-off Spark once na2·nb2 > 2⁶³/den² —
    token-repetitive ~60k-token docs at den=10 already cross it), and
    an in-plan ``assert_true`` guard RAISES when na2·nb2 reaches the
    decimal envelope 10³⁸/den² (≈10¹⁸-scale norms, ~10⁹-token docs)
    instead of letting decimal overflow null out the row — membership
    is exact or loud, never silently wrong.

    Scale shape — Bayardo's prefix bound, batch/asymmetric form: with
    terms in a fixed global order (df DESC, term — hot terms first),
    doc a's PREFIX is the longest head whose bound
    Σ ŵ_a(t)·maxweight(t) stays < τ (ŵ = tf/√Σtf², maxweight = the
    term's largest ŵ in the corpus); any pair with cos ≥ τ must then
    share a SUFFIX term of a, so candidates come from suffix(a) ⋈
    full-index(b) — hot boilerplate terms live in prefixes and never
    become join keys. The bound is float but only PRUNES (an ε=1e-9
    guard keeps it conservative; candidate-set divergence between
    engines cannot change the verified output). One persisted
    augmented index (the containment_pairs pattern) feeds the suffix, the
    full side, and both verification joins. Output: unordered
    (doc_a < doc_b, cosine).

    ``n`` sets the term granularity: 1 = unigram bag-of-words, >1 =
    word n-gram frequencies (kept WITH multiplicity, unlike the
    Jaccard path's shingle sets). The prefix bound's bite is a
    property of the term-frequency tail: on a vocabulary-degenerate
    corpus (this synthetic table's ~30 words) unigram APSS is
    inherently near-quadratic — every doc shares every term, the
    dense regime the set-sim router documents as Ω(U²) — while n ≥ 3
    grams re-establish the rare-term tail the filter needs (the same
    reason shingle prefix filters work); the registered query uses
    n=3."""
    from pyspark.sql import Window

    num, den = int(threshold_num), int(threshold_den)
    if not 1 <= num <= den:
        raise ValueError(f"cosine threshold must be in (0,1]: {num}/{den}")
    tau = num / den
    n = int(n)
    term_tbl = _tf_term_table(docs, n, id_col, text_col)
    # doc_id hash partitioning from the lead window already satisfies
    # the (doc_id, term) grouping — no extra exchange
    tf = term_tbl.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy("doc_id")
    w_ord = Window.partitionBy("doc_id").orderBy(F.desc("df"), "term")
    run_w = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nw = F.col("tf") / F.sqrt(F.col("na2").cast("double"))
    aug = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .withColumn("na2", F.sum(F.col("tf") * F.col("tf")).over(w_doc))
        .withColumn("mw", F.max(nw).over(w_term))
        .withColumn("bound", F.sum(nw * F.col("mw")).over(run_w))
        .persist()
    )
    suffix = aug.filter(F.col("bound") > F.lit(tau - 1e-9))
    cand = (
        suffix.select(F.col("doc_id").alias("da"), "term")
        .join(aug.select(F.col("doc_id").alias("db"), "term"), "term")
        .filter(F.col("da") != F.col("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .distinct()
    )
    norms = aug.groupBy("doc_id").agg(F.min("na2").alias("na2"))
    inter = (
        cand.join(
            aug.select(
                F.col("doc_id").alias("doc_a"), "term", F.col("tf").alias("tf_a")
            ),
            "doc_a",
        )
        .join(
            aug.select(
                F.col("doc_id").alias("doc_b"), "term", F.col("tf").alias("tf_b")
            ),
            ["doc_b", "term"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    # DECIMAL(38,0) membership: exact while den²·dot² and
    # num²·na2_a·na2_b stay under 10³⁸; the assert_true guard fires
    # BEFORE that envelope (na2_a·na2_b < 10³⁸/den² implies both
    # products fit, since dot² ≤ na2_a·na2_b and num ≤ den) so a
    # decimal overflow can never silently null a row out of the
    # filter. Literals go through str() — den² at large den exceeds
    # the int64 F.lit range.
    dec = lambda c: c.cast("decimal(38,0)")
    dec_lit = lambda v: F.lit(str(int(v))).cast("decimal(38,0)")
    na2_limit = (10**38) // (den * den)
    # ONE predicate (a when/otherwise chain cannot be split or
    # reordered by the optimizer the way an AND of conjuncts can), so
    # the raise branch is guaranteed to be reached before the
    # membership decimal could overflow.
    membership = F.when(
        dec(F.col("na2_a")) * dec(F.col("na2_b")) < dec_lit(na2_limit),
        dec_lit(den * den) * dec(F.col("dot")) * dec(F.col("dot"))
        >= dec_lit(num * num) * dec(F.col("na2_a")) * dec(F.col("na2_b")),
    ).otherwise(
        F.assert_true(
            F.lit(False),
            f"tf_cosine_pairs: na2_a*na2_b >= 10^38/den^2 (= {na2_limit}) "
            "exceeds the DECIMAL(38,0) exactness envelope of the "
            "cross-multiplied threshold; shard the offending documents "
            "or lower the term multiplicity before joining",
        ).cast("boolean")
    )
    out = (
        inter.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("na2").alias("na2_a")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("na2").alias("na2_b")), "doc_b")
        .filter(membership)
        .select(
            "doc_a",
            "doc_b",
            (
                # per-factor double cast: the int64 PRODUCT na2_a*na2_b
                # wraps negative past 2^63 (NaN cosine) in exactly the
                # beyond-int64 regime the decimal membership handles;
                # double*double is the same correctly-rounded value on
                # both engines (round 10, review finding)
                F.col("dot")
                / F.sqrt(
                    F.col("na2_a").cast("double")
                    * F.col("na2_b").cast("double")
                )
            ).alias("cosine"),
        )
    )
    return out


def duplicate_spans(
    docs: DataFrame,
    window_words: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL duplicated token spans per document — the ExactSubstr
    dedup signal (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): every OVERLAPPING ``window_words``-gram
    is fingerprinted; a position is *covered* when its gram occurs in
    ≥ ``min_docs`` distinct documents; runs of covered windows are
    merged into maximal spans with one gaps-and-islands pass. Compared
    to ``duplicated_block_stats`` (fixed non-overlapping blocks) the
    sliding window finds duplicated passages at ANY alignment — the
    form that actually survives in web-crawl corpora — and returns the
    exact token extents a curation pass would cut (reassembling the
    cleaned text is one positional anti-filter + ``array_join`` away).

    Scale shape: gram rows carry (doc_id, pos, md5-digest) — every
    shuffle (the document-frequency groupBy, the join back, the
    per-doc island window) is keyed on fixed-width digests or doc_id,
    never text. The island merge is a per-doc window over covered
    positions only (output-bounded, not corpus-bounded). Suffix-array
    ExactSubstr finds duplicates at every length ≥ L with one global
    sort; this windowed form is its standard distributed
    approximation — spans shorter than ``window_words`` are invisible
    and span ends are quantized to window extents, in exchange for an
    embarrassingly parallel plan with no global order.

    Output: (doc_id, span_start, span_end, span_tokens) — 1-based
    inclusive token positions, spans maximal and disjoint per doc.
    Intra-doc-only repeats are NOT flagged (``min_docs`` counts
    distinct documents; see ``repetition_signals`` for the intra-doc
    rules)."""
    from pyspark.sql import Window

    w = int(window_words)
    if w < 1 or min_docs < 1:
        raise ValueError("window_words and min_docs must be >= 1")
    words = F.split(F.col(text_col), " ")
    grams_arr = F.when(
        F.size(words) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(w - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.array_join(F.slice(words, i, w), " ")).alias(
                    "digest"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,digest:string>>"))
    grams = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams_arr).alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.digest").alias("digest"))
    # Eager localCheckpoint (round 16): the gram table feeds BOTH the
    # document-frequency aggregate (via a broadcast build) and the
    # probe side of the covered join, and exchange reuse cannot reach
    # through a BroadcastExchange — without the checkpoint the full
    # tokenize + per-gram md5 pass executes twice per run (measured
    # 2.0 s/pass at sf0.1, the dominant cost of this operator). The
    # checkpoint materializes (doc_id, pos, digest) rows once to
    # executor-local blocks — the same bytes the dup join already
    # carries — and both consumers read it back locally; blocks are
    # ContextCleaner-reclaimed when the plan is GC'd.
    grams = grams.localCheckpoint(eager=True)
    dup = (
        grams.groupBy("digest")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("digest")
    )
    # (doc_id, pos) is unique in `grams` by construction and `dup` is
    # unique by digest, so the join needs no distinct
    covered = grams.join(dup, "digest").select("doc_id", "pos")
    ord_w = Window.partitionBy("doc_id").orderBy("pos")
    run_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = covered.withColumn(
        "brk",
        F.when(
            F.col("pos") > F.lag("pos").over(ord_w) + F.lit(w), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("brk").over(run_w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + F.lit(1)).alias(
                "span_tokens"
            ),
        )
    )


def span_cleaned_stats(
    docs: DataFrame,
    window_words: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The curation CUT the spans imply, executed: remove every token
    inside a ``duplicate_spans`` extent and fingerprint what remains —
    per doc (n_tokens, n_removed, cleaned_md5), where ``cleaned_md5``
    hashes the space-rejoined survivors in original order (empty
    string when a doc is removed whole, e.g. exact duplicates). Docs
    with no duplicated span pass through with n_removed = 0, so the
    output is exactly one row per input document — a cleaned-corpus
    manifest.

    Scale shape: span extents aggregate to one small array per
    affected doc and attach with a doc_id equi-join; the cut itself is
    a codegen array filter over the split tokens, which never leave
    their row (see :func:`_span_cut_frame`)."""
    frame = _span_cut_frame(
        docs,
        duplicate_spans(docs, window_words, min_docs, id_col, text_col),
        id_col,
        text_col,
    )
    return frame.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    )


def _span_cut_frame(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """One row per input document with the span cut applied — THE
    positional-cut core every span consumer shares
    (:func:`span_cleaned_stats`/:func:`span_cleaned_text`,
    :func:`apply_span_cut`, :func:`redact_and_clean_text`), so no two
    of them can disagree about cut semantics. Columns: (doc_id,
    n_tokens, n_removed, cleaned_text), plus ``n_redacted`` (counted
    over SURVIVING tokens, inserted before ``cleaned_text``) when
    ``patterns`` is given.

    Round 16 shape (guide §8 "decide with small rows, move big rows
    once"): the old rebuild posexploded every token, anti-joined on
    (doc_id, pos) and re-assembled each doc with a collect_list —
    shipping the corpus's full token payload through an exchange. Now
    the span extents are aggregated to ONE small array per affected
    doc, attached with a doc_id equi-join (AQE broadcasts the span
    side whenever it fits — the common case; the fallback sort-merge
    moves the text once, never more than the old token exchange), and
    the cut runs as a codegen ``filter(words, (tok, i) -> …)`` over
    the split array — the tokens never leave their row. Overlapping
    caller spans are safe: the per-token ``exists`` test is
    idempotent, so no distinct pass is needed."""
    sp = spans.groupBy(F.col("doc_id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    j = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).join(sp, "doc_id", "left")
    words = F.split(F.col("__text"), " ")
    kept = F.when(F.col("__sp").isNull(), words).otherwise(
        F.filter(
            words,
            lambda t, i: ~F.exists(
                F.col("__sp"),
                lambda s: (i + 1 >= s["span_start"])
                & (i + 1 <= s["span_end"]),
            ),
        )
    )
    cols = [
        F.col("doc_id"),
        F.size(words).alias("n_tokens"),
        (F.size(words) - F.size(kept)).cast("int").alias("n_removed"),
    ]
    if patterns is not None:
        masked = F.transform(
            kept, lambda t: F.coalesce(_pii_placeholder(t, patterns), t)
        )
        cols.append(
            F.size(
                F.filter(
                    kept, lambda t: _pii_kind(t, patterns).isNotNull()
                )
            )
            .cast("int")
            .alias("n_redacted")
        )
        cols.append(F.array_join(masked, " ").alias("cleaned_text"))
    else:
        cols.append(F.array_join(kept, " ").alias("cleaned_text"))
    return j.select(*cols)


def span_cleaned_text(
    docs: DataFrame,
    window_words: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The CLEANED CORPUS itself (round 10, VERDICT r9 #3):
    (doc_id, n_tokens, n_removed, cleaned_text) — every token inside
    a :func:`duplicate_spans` extent removed, survivors space-joined
    in original order; empty string when a doc is cut whole (exact
    duplicates), untouched docs pass through verbatim-equivalent
    (single-space token join of the split). Exactly one row per input
    document, so ``.write.parquet(...)`` of this DataFrame IS the
    curated-corpus write path — the manifest twin
    (:func:`span_cleaned_stats`) is the same plan with an md5 on top,
    pinned equal by construction through :func:`_span_cut_rebuild`.

    Scale shape: identical to span_cleaned_stats — the extents attach
    as one small array per doc and the cut is a codegen array filter;
    returning the string instead of its hash adds no shuffle because
    the tokens never leave their row (see :func:`_span_cut_frame`)."""
    return _span_cut_frame(
        docs,
        duplicate_spans(docs, window_words, min_docs, id_col, text_col),
        id_col,
        text_col,
    )


# Default sensitive-token patterns for the redaction stage. Keys are
# the span kinds (and placeholder names); order is the precedence when
# one token matches several patterns (first wins — email addresses
# contain digit runs, so email must outrank id). Every pattern is
# anchored whole-token and uses only the regex subset Java
# (Spark rlike) and RE2 (DuckDB regexp_matches) agree on: character
# classes, bounded quantifiers, anchors — no lookaround, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$",
    # at least one dash separator, optional +CC prefix — a bare long
    # digit run is an id, not a phone, so the shapes stay disjoint
    "phone": r"^\+?[0-9]{1,4}(-[0-9]{1,10}){1,5}$",
    "id": r"^[0-9]{9,}$",
}


def _portability_violation(pat: str) -> str | None:
    """Scan ``pat`` with ESCAPE PARITY and CHARACTER-CLASS state (round
    12 — the round-11 single-regex guard had both failure directions:
    ``\\\\*+`` passed because the lookbehind saw a backslash it did not
    know was itself escaped, and ``^[*+]+$`` was refused although the
    quantifier chars sit inside a class where they are literals).
    Returns the offending construct, or None when the pattern stays in
    the Java∩RE2-portable subset. Rules, applied only where a char is
    an actual metacharacter (unescaped, outside a class):

    - ``(?=`` ``(?!`` ``(?<`` ``(?>`` — lookaround / Java named groups
      / atomic groups;
    - ``\\1``–``\\9`` where the backslash starts an escape —
      backreferences (rejected inside classes too: Java reads octal,
      RE2 errors);
    - a quantifier (``*`` ``+`` ``?`` or a well-formed ``{m[,n]}``)
      followed by ``+`` — possessive, Java-only (RE2 errors). Lazy
      ``*?``/``+?``/``??``/``{m,n}?`` are portable and pass."""
    import re as _re

    i, n = 0, len(pat)
    in_class = False
    while i < n:
        c = pat[i]
        if c == "\\":
            nxt = pat[i + 1] if i + 1 < n else ""
            if nxt.isdigit() and nxt != "0":
                return pat[i : i + 2]  # backreference
            i += 2  # escaped char: literal, never a metacharacter
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            # a leading ^ and/or ] is part of the class, not its end
            if i < n and pat[i] == "^":
                i += 1
            if i < n and pat[i] == "]":
                i += 1
            continue
        if c == "(" and pat[i + 1 : i + 2] == "?" and pat[
            i + 2 : i + 3
        ] in ("=", "!", "<", ">", "P"):
            # =/!/< lookaround + Java named groups, > atomic (all
            # Java-only); P = RE2/PCRE named groups (RE2-only) — each
            # side errors on the other's named-group spelling, so
            # neither is portable
            return pat[i : i + 3]
        if c in "*+?":
            if pat[i + 1 : i + 2] == "+":
                return pat[i : i + 2]  # possessive quantifier
            i += 2 if pat[i + 1 : i + 2] == "?" else 1  # lazy is portable
            continue
        if c == "{":
            m = _re.match(r"\{[0-9]+(,[0-9]*)?\}", pat[i:])
            if m:  # a well-formed bounded quantifier
                j = i + m.end()
                if pat[j : j + 1] == "+":
                    return pat[i : j + 1]  # possessive {m,n}+
                i = j + 1 if pat[j : j + 1] == "?" else j
                continue
        i += 1
    return None


def _check_portable_patterns(patterns: dict[str, str]) -> None:
    """Refuse regex constructs outside the Java∩RE2 common subset the
    redaction family's engine-parity rests on: Spark's rlike is Java
    regex (has lookaround/backrefs), DuckDB's regexp_matches is
    RE2-based (has neither) — a pattern using them would MATCH in one
    engine and ERROR or silently differ in the other, turning every
    derived oracle row into a lie. Character classes, alternation,
    anchors and bounded quantifiers are identical in both; that is the
    contract PII_PATTERNS keeps and custom patterns must too. The
    check tracks escape parity and class state
    (:func:`_portability_violation`), so a literal ``\\\\`` before a
    quantifier or quantifier chars inside a class never mislead it."""
    if not patterns:
        raise ValueError("patterns must be non-empty")
    for kind, pat in patterns.items():
        bad = _portability_violation(pat)
        if bad is not None:
            raise ValueError(
                f"pattern {kind!r} uses {bad!r} — lookaround/"
                "atomic groups/backreferences/possessive quantifiers "
                "are not in the Java∩RE2-portable regex "
                "subset this operator family guarantees (Spark rlike "
                "vs DuckDB regexp_matches would diverge); rewrite with "
                "classes, alternation, anchors and bounded quantifiers"
            )


def _pii_kind(tok, patterns: dict[str, str]):
    """First-match-wins CASE chain: token column → kind literal (NULL
    when no pattern matches) — one definition shared by the span
    extractor, the redactor, and the composed curation pass."""
    _check_portable_patterns(patterns)
    expr = None
    for kind, pat in patterns.items():
        branch = F.when(tok.rlike(pat), F.lit(kind))
        expr = branch if expr is None else expr.when(tok.rlike(pat), F.lit(kind))
    return expr


def _pii_placeholder(tok, patterns: dict[str, str]):
    """Token column → replacement placeholder (``<EMAIL>``…, NULL when
    no pattern matches)."""
    _check_portable_patterns(patterns)
    expr = None
    for kind, pat in patterns.items():
        ph = F.lit(f"<{kind.upper()}>")
        branch = F.when(tok.rlike(pat), ph)
        expr = branch if expr is None else expr.when(tok.rlike(pat), ph)
    return expr


def pattern_spans(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sensitive-span extraction (round 11, VERDICT r10 #4) — the
    pattern-driven span SOURCE the span-cut machinery lacked: one row
    per token matching a PII pattern, as (doc_id, span_start,
    span_end, kind) in the SAME 1-based-inclusive token-extent shape
    :func:`duplicate_spans` emits, so the two span sources compose
    into one curation cut (:func:`redact_and_clean_text`). Kinds
    follow ``patterns`` order, first match wins (deterministic when a
    token matches several). Tokens are single-space splits of the raw
    text — the span machinery's coordinate system — and matching is
    whole-token anchored native ``rlike`` (JVM regex, no Python).

    Scale shape: map-only — posexplode + a per-token CASE inside
    whole-stage codegen; no shuffle, no UDF, output bounded by match
    count. At 100 TB this is a streamed scan, exactly as cheap as the
    tokenizer."""
    pats = PII_PATTERNS if patterns is None else patterns
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    return (
        toks.withColumn("kind", _pii_kind(F.col("tok"), pats))
        .filter(F.col("kind").isNotNull())
        .select(
            "doc_id",
            F.col("pos").alias("span_start"),
            F.col("pos").alias("span_end"),
            "kind",
        )
    )


def redacted_text(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The redaction CUT applied (round 11): every token matching a
    ``patterns`` entry replaced by its ``<KIND>`` placeholder,
    survivors untouched, original order — one row per document with
    (doc_id, n_tokens, n_redacted, redacted_text). Placeholders, not
    removal: downstream token-position consumers (the duplicate-span
    coordinates, training-data offsets) stay valid, and the
    redaction is auditable in the text itself.

    Scale shape: ZERO shuffle — the whole operator is one
    ``transform``/``filter`` over the split array inside whole-stage
    codegen (the tokens never leave their row), strictly cheaper than
    the positional-anti-join rebuild the duplicate-span cut needs.
    Use :func:`redact_and_clean_text` when both cuts run in one
    pass."""
    pats = PII_PATTERNS if patterns is None else patterns
    words = F.split(F.col(text_col), " ")
    red = F.transform(
        words, lambda t: F.coalesce(_pii_placeholder(t, pats), t)
    )
    matched = F.filter(
        words, lambda t: _pii_kind(t, pats).isNotNull()
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).alias("n_tokens"),
        F.size(matched).alias("n_redacted"),
        F.array_join(red, " ").alias("redacted_text"),
    )


def redact_and_clean_text(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    window_words: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full curation tail in ONE pass (round 11): duplicated-span
    tokens REMOVED (:func:`duplicate_spans` extents — the ExactSubstr
    cut) and surviving PII tokens REPLACED by placeholders, both in
    original-text coordinates — (doc_id, n_tokens, n_removed,
    n_redacted, cleaned_text) with exactly one row per input doc.
    ``n_redacted`` counts SURVIVING redacted tokens (a PII token
    inside a duplicated span is removed, not masked). Equivalent by
    construction to :func:`redacted_text` applied to
    :func:`span_cleaned_text` output — pytest-pinned — because
    per-token masking commutes with positional removal; fused here so
    the corpus is tokenized and rebuilt ONCE instead of twice.

    Scale shape: identical to span_cleaned_text (one small span array
    per doc, codegen array filter) plus a free map-side CASE on the
    surviving tokens (see :func:`_span_cut_frame`)."""
    pats = PII_PATTERNS if patterns is None else patterns
    return _span_cut_frame(
        docs,
        duplicate_spans(docs, window_words, min_docs, id_col, text_col),
        id_col,
        text_col,
        pats,
    )


def apply_span_cut(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut ARBITRARY spans out of a corpus (round 11): remove every
    token inside a caller-provided (doc_id, span_start, span_end)
    extent table — the generic form of the rebuild
    :func:`span_cleaned_text` hard-wires to :func:`duplicate_spans`.
    Any span source in the shared 1-based-inclusive token-extent
    shape composes: :func:`pattern_spans` (cut PII instead of masking
    it), :func:`duplicate_spans`, a hand-curated blocklist table, or
    a UNION of several. Output: (doc_id, n_tokens, n_removed,
    cleaned_text), one row per input doc; overlapping spans are safe
    (the per-token exists test is idempotent — no distinct needed).

    Scale shape: identical to span_cleaned_text — one small span
    array per affected doc, one doc_id equi-join, the cut in a
    codegen array filter (see :func:`_span_cut_frame`)."""
    # the span table's contract columns are fixed (doc_id, span_start,
    # span_end) — id_col renames only the CORPUS side
    return _span_cut_frame(docs, spans, id_col, text_col)


def duplicated_block_stats(
    docs: DataFrame,
    block_words: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-passage fraction (RefinedWeb-style
    "remove documents made of copied passages", adapted to unpunctuated
    text: fixed non-overlapping ``block_words``-word blocks stand in
    for lines/paragraphs).

    A block is *duplicated* when it occurs in >= 2 distinct documents.
    Output per doc: total blocks, duplicated blocks, dup_frac.

    Scale shape: blocks are keyed by their md5 digest, so every shuffle
    (the distinct, the document-frequency groupBy, the join back)
    carries a fixed 32-char key, never text. The df table is re-derived
    from the block table inside one plan — one scan of documents total.
    """
    words = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(1), F.size(words) - F.lit(block_words - 1), F.lit(block_words)
    )
    block = F.when(
        F.size(words) >= block_words,
        F.transform(
            starts, lambda i: F.array_join(F.slice(words, i, block_words), " ")
        ),
    ).otherwise(F.array().cast("array<string>"))
    blocks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(block).alias("block"),
    ).select("doc_id", F.md5("block").alias("digest"))
    block_df = (
        blocks.distinct()
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return (
        blocks.join(block_df, "digest")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("doc_freq") >= 2, 1).otherwise(0)).alias("n_dup_blocks"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_blocks").cast("double") / F.col("n_blocks"), 6),
        )
    )


def near_dup_pairs_auto(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level face of the set-similarity auto-handoff: n-gram
    near-dup pairs (doc_a, doc_b, jaccard) with the exact-vs-MinHash-LSH
    path chosen by :func:`~.similarity.set_similarity_join_auto` from
    cheap shingle-df statistics. Below the handoff the output is
    EXACTLY :func:`ngram_jaccard_pairs` at the same threshold —
    pytest-pinned; above it, candidates come from banded min-md5
    signatures (bands matched to the threshold's S-curve midpoint via
    ``choose_lsh_bands``) with exact verification, so emitted pairs
    still carry true Jaccard values and no false positives exist. The
    routing decision travels on ``__setsim_path__`` /
    ``__setsim_meta__``."""
    from .similarity import set_similarity_join_auto

    # One shingle pass: the router's two scalar stats jobs and the
    # chosen join all read this table — un-materialized, each would
    # re-tokenize and re-shingle the corpus (3 scans measured at
    # sf0.1). Eager localCheckpoint, NOT .persist() (round-8 lifecycle
    # fix): a session that varies (n, threshold) across invocations
    # would pin one CacheManager entry per distinct parameterization
    # forever; checkpoint blocks are ContextCleaner-reclaimed once the
    # caller drops the result, so parameter sweeps stay flat
    # (pytest-pinned: test_dedup.py cached-entry no-growth).
    sh = doc_shingles(docs, n, id_col, text_col).localCheckpoint(eager=True)
    pairs = set_similarity_join_auto(
        sh, "doc_id", "shingle", threshold_num, threshold_den
    )
    out = doc_jaccard(pairs)
    out.__setsim_path__ = pairs.__setsim_path__
    out.__setsim_meta__ = pairs.__setsim_meta__
    return out


def new_doc_dup_candidates(
    index_bands: DataFrame,
    new_docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    scheme: dict | None = None,
    verify_banding: bool = True,
    trust_banding: bool = False,
) -> DataFrame:
    """Ingest-time dedup scoring: candidate (new_doc_id, doc_id) pairs
    between a batch of NEW documents and the maintained band index
    (streaming/incremental.py:incremental_band_index_stream) — the
    read-side half of dedup-on-ingest. Only the new docs are banded
    (|delta|·bands rows); the join is equi on (band, band_hash)
    against the linear-size index, so scoring a batch never rescans or
    re-hashes the corpus. Self-matches (a new doc already in the
    index) are excluded, and each relationship appears ONCE: a pair
    shows up in BOTH orientations exactly when both endpoints sit in
    (new batch ∩ index) — a replayed source file re-ingesting docs the
    index already holds — and then only the smaller-id orientation is
    kept; without that, the mirrored (q=1,ix=2)/(q=2,ix=1) rows both
    survive distinct() and a scoring consumer double-counts the pair.
    A genuinely-new doc's pair with a re-ingested index doc has no
    mirror and is always kept, whichever id is smaller. WITHIN-batch
    duplicates (two near-identical docs arriving in the same file,
    neither indexed yet) surface through a batch self-join term — so
    scoring does NOT require the batch to be merged into the index
    first. The k/bands/n parameters MUST match the ones the index was
    built with — band hashes are only comparable within one scheme;
    round 11 ENFORCES that where a stamp exists: pass the index's
    ``_scheme.json`` (streaming/incremental.py:read_index_scheme) via
    ``scheme=`` and a parameter drift raises scan-lessly before any
    job runs, instead of the equi-join silently returning zero
    candidates (the same guard class as the simhash block side).
    Round 12 (VERDICT r11 #5): a STAMP-LESS call now REFUSES by
    default — the fallback max(band) scalar check catches a ``bands``
    drift but is blind to a k/n drift at equal bands (band hashes are
    opaque), a documented hole a production ingest loop would only
    discover as silently-missed near-dups. Recovery is named in the
    error: pass ``scheme=read_index_scheme(table_path)`` for a
    stream-built index (streaming/incremental.py stamps
    ``_scheme.json`` on first build), or write
    ``minhash_band_scheme(k, bands, n)`` to the table's
    ``_scheme.json`` by hand after verifying how it was built. Callers
    that hold the (in-session, un-persisted) band table they JUST
    built may pass ``trust_banding=True`` — mirroring the simhash
    side's ``verify_blocking=False`` — which still runs the max(band)
    scalar check unless ``verify_banding=False`` also says the eager
    aggregate is not wanted (e.g. per-batch loops over a lazy index
    pipeline, round-11 ADVICE)."""
    if scheme is not None:
        _require_band_scheme(scheme, k, bands, n)
    elif not trust_banding:
        raise ValueError(
            "stamp-less band index refused: without its _scheme.json "
            "stamp a k or n drift at equal bands is undetectable and "
            "the (band, band_hash) equi-join would silently return "
            "zero candidates — pass scheme=read_index_scheme(<table "
            "path>) (streaming/incremental.py) for a stream-built "
            f"index, write minhash_band_scheme({k}, {bands}, {n}) to "
            "the table's _scheme.json after verifying its build "
            "parameters, or pass trust_banding=True if this session "
            "built the band table itself"
        )
    elif verify_banding:
        verify_band_table(index_bands, bands)
    # Materialized ONCE via eager localCheckpoint (|delta|·bands rows —
    # tiny): nb feeds the index probe AND both sides of the
    # within-batch self-join; un-materialized, the tokenize/shingle/
    # minhash pipeline over the batch would run once per reference.
    # NOT .persist(): this function runs once per ingest batch with a
    # DIFFERENT delta each time, so each call would pin a new
    # CacheManager entry forever (unbounded accumulation over a
    # long-running ingest loop); checkpoint blocks are reclaimed by
    # the ContextCleaner as soon as the caller drops the result.
    nb = minhash_bands(new_docs, k, bands, n, id_col, text_col).localCheckpoint(
        eager=True
    )
    new_ids = new_docs.select(F.col(id_col).alias("__new_id")).distinct()
    index_ids = index_bands.select(
        F.col("doc_id").alias("__ix_id")
    ).distinct()
    vs_index = (
        nb.alias("q")
        .join(
            index_bands.alias("ix"),
            (F.col("q.band") == F.col("ix.band"))
            & (F.col("q.band_hash") == F.col("ix.band_hash"))
            & (F.col("q.doc_id") != F.col("ix.doc_id")),
        )
        .join(new_ids, F.col("ix.doc_id") == F.col("__new_id"), "left")
        .join(index_ids, F.col("q.doc_id") == F.col("__ix_id"), "left")
        .filter(
            # the mirrored orientation exists iff ix is also new AND q
            # is also indexed — then keep only the smaller-id side
            F.col("__new_id").isNull()
            | F.col("__ix_id").isNull()
            | (F.col("q.doc_id") < F.col("ix.doc_id"))
        )
        .select(
            F.col("q.doc_id").alias("new_doc_id"),
            F.col("ix.doc_id").alias("doc_id"),
        )
    )
    # within-batch pairs, min-id first; only pairs where NEITHER
    # endpoint is indexed — any pair with an indexed endpoint is
    # already emitted by the index-side term (the indexed doc appears
    # as ix), and a second copy in either orientation would survive
    # distinct()
    within_batch = (
        lsh_pairs_from_bands(nb)
        .join(
            index_ids.withColumnRenamed("__ix_id", "__ia"),
            F.col("doc_a") == F.col("__ia"),
            "left",
        )
        .join(
            index_ids.withColumnRenamed("__ix_id", "__ib"),
            F.col("doc_b") == F.col("__ib"),
            "left",
        )
        .filter(F.col("__ia").isNull() & F.col("__ib").isNull())
        .select(
            F.col("doc_a").alias("new_doc_id"),
            F.col("doc_b").alias("doc_id"),
        )
    )
    return vs_index.unionByName(within_batch).distinct()
