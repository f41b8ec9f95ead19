"""Deduplication operators for large-scale training-data pipelines.

Five families, all shuffle-conscious:
- exact: hash-groupBy on the raw or normalized text (one shuffle).
- MinHash + LSH: shingle → 64 minhashes (xxhash64 seeds) → band buckets →
  candidate pairs only within buckets (no O(n²) crossJoin) → verify by
  estimated Jaccard. The classic web-dedup pipeline (Broder; see PAPERS.md).
- SimHash: per-token hash bit votes → 64-bit signature → banded blocking →
  Hamming-distance verify with `bit_count(xor)`.
- n-gram Jaccard: exact set Jaccard over word 3-gram shingles via an
  explode + self-join on shingle (co-partitioned by shingle hash — the
  join IS the candidate generation; no full pair enumeration).
- embedding cosine near-dup: see operators.similarity.cosine_pairs.

Everything is built-in-function DataFrame code — no Python UDFs. At 100 TB
the shuffles are all keyed by shingle/band/bucket, so skew is bounded by
banding width; frequent-shingle hot keys can be dropped with
`max_shingle_freq` (stop-shingle filtering), the standard trick.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hudi_demo_spark.functions.hashfn import portable_hash60
from hudi_demo_spark.functions.textfn import normalize_text, tokens, word_trigrams


from hudi_demo_spark.operators.util import spread as _spread

MINHASH_P = 2_147_483_647  # Mersenne prime 2^31-1


def minhash_coeffs(num_hashes: int, p: int = MINHASH_P) -> list[tuple[int, int]]:
    """The (a_i, b_i) universal-hash coefficients, seeded like the
    reference datagen (HoodieExampleDataGenerator.java:54). Shared with
    the DuckDB oracle generator so both engines mix identically."""
    import random

    rng = random.Random(46474747)
    return [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, cols: list[str], keep_by: str | None = None) -> DataFrame:
    """Keep one row per distinct `cols`; deterministic winner = min(keep_by)."""
    if keep_by is None:
        return df.dropDuplicates(cols)
    w = Window.partitionBy(*cols).orderBy(F.col(keep_by).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(df: DataFrame, cols: list[str]) -> DataFrame:
    """Groups with >1 occurrence: (cols..., n_dups)."""
    return df.groupBy(*cols).agg(F.count("*").alias("n_dups")).filter("n_dups > 1")


def dedup_normalized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on the normalized text (lower/collapse-ws/trim).
    The window partitions on a 64-bit hash of the normal form, not the
    string itself — the shuffle moves 8-byte keys instead of documents."""
    return dedup_exact(
        _spread(df).withColumn("__norm", F.xxhash64(normalize_text(text_col))),
        ["__norm"],
        keep_by=id_col,
    ).drop("__norm")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_fn=word_trigrams,
    portable: bool = False,
) -> DataFrame:
    """(id, sig array<long>) — classic one-hash minwise family: each
    shingle is hashed ONCE, then the i-th hash is the universal affine
    mix `(a_i·h + b_i) mod p` with p = 2^31−1 (products stay < 2^62, so
    the arithmetic is ANSI-overflow-safe). One explode + one groupBy(id)
    shuffle; the 64 mins are a single map-side-combinable aggregation.

    `portable=True` swaps xxhash64 for the md5-derived 60-bit hash so a
    DuckDB oracle can reproduce the signatures bit-for-bit (hashfn)."""
    p = MINHASH_P
    coeffs = minhash_coeffs(num_hashes, p)
    sh = _spread(df).select(
        F.col(id_col), F.explode(shingle_fn(text_col)).alias("__shingle")
    ).dropDuplicates([id_col, "__shingle"])
    # the 64 affine-mix mins are generated as parsed SQL, not composed
    # Column objects — per-literal driver round-trips cost more than the
    # query itself at this expression count (see similarity.ivf_assign)
    base_hash = (
        portable_hash60("__shingle") if portable else F.xxhash64("__shingle")
    )
    sh = sh.withColumn("__h", F.pmod(base_hash, F.lit(p)))
    mins = [
        F.expr(f"min(pmod(__h * {a}L + {b}L, {p}L))").alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    sig = F.expr(
        "array({})".format(",".join(f"h{i}" for i in range(num_hashes)))
    )
    return agg.select(F.col(id_col), sig.alias("sig"))


# Java-regex `\s` (java.util.regex, no UNICODE_CHARACTER_CLASS) is
# exactly this class — Python's str-mode `\s` is Unicode-aware and would
# split on NBSP/NEL where Spark's `F.split(c, r"\s+")` does not.
_JAVA_WS = re.compile("[ \\t\\n\\x0b\\f\\r]+")


def minhash_band_rows_py(
    rows,
    num_hashes: int = 64,
    bands: int = 16,
) -> list[tuple]:
    """Driver-side twin of ``engine.minhash_index.lsh_band_rows`` with
    ``portable=True`` for a SMALL row set already on the driver:
    [(id, band, bucket), ...], bit-equal to collecting the distributed
    plan (pinned by a differential pytest). `rows` are (id, text) pairs
    (Row objects or tuples). Shingle-less ids (fewer than 3 tokens)
    emit no band rows, duplicate ids merge their shingle sets — both
    exactly as the explode + groupBy(id) plan behaves.

    Why: a probe's batch signature is a pure function of a few hundred
    driver-resident strings; evaluating it through a Spark job costs a
    shingle-explode shuffle + a collect per probe (guide §5 — the same
    driver-twin shape as text_index._buckets_of)."""
    import numpy as np

    from hudi_demo_spark.functions.hashfn import portable_hash60_py

    p = MINHASH_P
    # a·h + b < 2^62 + 2^31 (a, b, h < p = 2^31 − 1): exact in int64
    a, b = (
        np.array(c, dtype=np.int64)
        for c in zip(*minhash_coeffs(num_hashes, p))
    )
    rpb = num_hashes // bands
    shingles: dict = {}
    for rid, text in rows:
        s = shingles.setdefault(rid, set())
        toks = [t for t in _JAVA_WS.split(text or "") if t]
        s.update(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )
    out = []
    for rid, sh in shingles.items():
        if not sh:
            continue
        hs = np.fromiter(
            (portable_hash60_py(x) % p for x in sh), np.int64, len(sh)
        )
        sig = ((np.multiply.outer(a, hs) + b[:, None]) % p).min(1).tolist()
        for band in range(bands):
            bucket = ":".join(
                str(sig[band * rpb + r]) for r in range(rpb)
            )
            out.append((rid, band, bucket))
    return out


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Candidate (a, b) pairs sharing ≥1 LSH band bucket. Join is keyed by
    (band, bucket-hash): no crossJoin anywhere."""
    assert bands * rows_per_band <= 64
    band_structs = ",".join(
        "named_struct('band', {b}, 'bucket', xxhash64({cols}))".format(
            b=b,
            cols=",".join(
                f"element_at(sig, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    band_rows = sigs.select(
        F.col(id_col),
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    l = band_rows.alias("l")
    r = band_rows.alias("r")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with estimated Jaccard ≥ threshold:
    (a, b, est_jaccard)."""
    rows_per_band = num_hashes // bands
    # the signature plan (shingle explode + 64-min aggregate) is referenced
    # four times below (band join l/r + both verify sides); persist so it
    # executes once, not four times
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, portable=portable).persist()
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    a_sig = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    b_sig = sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(num_hashes)
    )
    return (
        cands.join(a_sig, "a")
        .join(b_sig, "b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64, portable: bool = False
) -> DataFrame:
    """(id, simhash long): per-token hash bit votes, sign-aggregated.

    explode + one groupBy; the 64 vote sums are map-side combinable.
    `portable=True` uses the md5-derived 60-bit hash (oracle-reproducible;
    requires bits <= 60)."""
    if portable:
        assert bits <= 60, "portable hash provides 60 bits"
    tok = _spread(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).withColumn("__h", portable_hash60("__t") if portable else F.xxhash64("__t"))
    # 64 vote sums + the 64-term bit reassembly as parsed SQL — composed
    # Column objects at this count cost ~1.4s of driver round-trips per
    # plan build (see similarity.ivf_assign)
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(__h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    # disjoint bit positions: + == xor == or
    sig = F.expr(
        " + ".join(
            f"shiftleft(CAST(CASE WHEN v{i} > 0 THEN 1 ELSE 0 END AS BIGINT), {i})"
            for i in range(bits)
        )
    )
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """(a, b, hamming ≤ max_hamming). Blocking: split the `bits`-bit
    signature into bits/band_bits chunks; by pigeonhole any pair within
    Hamming distance < #chunks shares a chunk — join per chunk, verify
    with bit_count(xor). No crossJoin."""
    # persisted: the signature plan feeds both sides of the chunk self-join
    sigs = simhash(df, id_col, text_col, bits=bits, portable=portable).persist()
    return hamming_near_pairs(
        sigs, id_col, "simhash", max_hamming=max_hamming,
        band_bits=band_bits, bits=bits,
    )


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
    bits: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Generic Hamming near-dup miner over ANY precomputed `bits`-bit
    signature column (SimHash text signatures, perceptual image hashes,
    audio fingerprints): pigeonhole chunk blocking + `bit_count(xor)`
    verify — join keyed by (chunk, chunk-value), never a crossJoin.
    Guaranteed complete for max_hamming < bits/band_bits (a closer pair
    must agree on some chunk); wider thresholds trade recall.

    `group_cols` adds alignment columns to the blocking key (e.g. a
    video frame index): only signatures agreeing on every group column
    pair up, and the extra key columns shrink each join bucket rather
    than growing the candidate set."""
    gcols = list(group_cols or [])
    chunks = bits // band_bits
    blocked = sigs.select(
        F.col(id_col),
        *gcols,
        F.col(sig_col).alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col(sig_col), c * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cb"),
    ).select(id_col, *gcols, "__sig", "cb.chunk", "cb.key")
    l = blocked.alias("l")
    r = blocked.alias("r")
    ham = F.bit_count(F.col("l.__sig").bitwiseXOR(F.col("r.__sig")))
    out = (
        l.join(r, ["chunk", "key", *gcols])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            *gcols,
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return out


def edit_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_edit: int = 1,
) -> DataFrame:
    """(a, b, edit): pairs of SHORT strings (titles, product names,
    author fields) within Levenshtein distance `max_edit` ∈ {1, 2} —
    the fuzzy-key dedup the coarser shingle miners can't do (a 1-char
    typo changes every containing shingle).

    Blocking is the SymSpell deletion-neighborhood guarantee: two
    strings within edit distance d share at least one common variant
    among their ≤d-deletion variants, so candidates = a self-join on
    the exploded neighborhood and completeness is PROVABLE (any
    insert/substitute edit reduces to deletions on both sides). The
    verify step recomputes exact `levenshtein` on each candidate, so
    hash collisions in the 64-bit variant key only add candidates,
    never pairs. Everything is built-in codegen — the neighborhood is
    a higher-order-function expansion, no Python.

    Scale shape: neighborhood size is 1 + L + L(L-1)/2 at d=2 — meant
    for BOUNDED key strings (≲64 chars), where the explode is a few
    hundred rows per key; the join is keyed by variant hash, never all
    pairs. Long-text near-dup belongs to MinHash/SimHash instead."""
    if max_edit not in (1, 2):
        raise ValueError("edit_near_pairs supports max_edit in {1, 2}")

    def dels(col):
        # every string obtained by deleting ONE character
        return F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.concat(
                col.substr(F.lit(1), i - 1),
                col.substr(i + 1, F.length(col)),
            ),
        )

    def variants(col):
        out = F.array_union(F.array(col), dels(col))
        if max_edit == 2:
            out = F.array_union(
                out,
                F.array_distinct(F.flatten(F.transform(dels(col), dels))),
            )
        return out

    # Block on DISTINCT STRINGS, not ids: duplicate keys (the common
    # case in fuzzy-key dedup — many rows share one canonical title)
    # would otherwise multiply every variant bucket by their copy count
    # AND re-verify each id pair once per shared variant. Mining the
    # distinct-string near set first and expanding to id pairs at the
    # end does the expensive work once per string pair: the verify runs
    # after a candidate `.distinct()`, so levenshtein evaluates once
    # per candidate STRING pair instead of once per shared deletion
    # variant (hundreds at d=2) per id pair.
    strings = df.select(F.col(text_col).alias("__t")).distinct()
    blocked = _spread(strings).select(
        F.col("__t"),
        F.explode(
            F.transform(variants(F.col("__t")), lambda v: F.xxhash64(v))
        ).alias("__v"),
    ).dropDuplicates(["__t", "__v"])
    l, r = blocked.alias("l"), blocked.alias("r")
    # candidate string pairs, deduped BEFORE the exact verify; string
    # (not hash) ordering keeps each unordered pair exactly once even
    # under a 64-bit variant-hash collision
    cand = (
        l.join(r, "__v")
        .filter(F.col("l.__t") < F.col("r.__t"))
        .select(
            F.col("l.__t").alias("__tl"), F.col("r.__t").alias("__tr")
        )
        .distinct()
    )
    near = cand.withColumn(
        "edit", F.levenshtein(F.col("__tl"), F.col("__tr"))
    ).filter(F.col("edit") <= max_edit)
    # distinct: duplicate (id, text) INPUT rows must not emit duplicate
    # output pairs (the pre-r10 contract — its final .distinct() swallowed
    # them); deduping the tiny id projection here is far cheaper than a
    # distinct over the expanded pair union
    ids = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).distinct()
    # expand string pairs back to id pairs (each id has ONE string, so
    # every unordered id pair appears exactly once) ∪ the edit-0 pairs
    # of ids sharing an identical string
    cross = (
        near.join(ids.alias("il"), F.col("il.__t") == F.col("__tl"))
        .join(ids.alias("ir"), F.col("ir.__t") == F.col("__tr"))
        .select(
            F.least(F.col("il.__id"), F.col("ir.__id")).alias("a"),
            F.greatest(F.col("il.__id"), F.col("ir.__id")).alias("b"),
            F.col("edit"),
        )
    )
    il, ir = ids.alias("el"), ids.alias("er")
    equal = (
        il.join(ir, "__t")
        .filter(F.col("el.__id") < F.col("er.__id"))
        .select(
            F.col("el.__id").alias("a"),
            F.col("er.__id").alias("b"),
            F.lit(0).cast("int").alias("edit"),
        )
    )
    return cross.unionByName(equal)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _shingled_ids(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id, shingle-hash) rows — shared candidate substrate of
    the self-join and cross-corpus Jaccard miners. Shingles are
    xxhash64'd before the dedup/join shuffles: 8-byte keys instead of
    ~25-byte strings (measured ~15% faster end-to-end at sf0.1). A
    64-bit collision would perturb one intersection count; at 2⁻⁶⁴ per
    shingle pair that is negligible against any threshold."""
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.transform(word_trigrams(text_col), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .dropDuplicates(["id", "sh"])
    )


def _jaccard_assemble(inter, na, nb, threshold: float) -> DataFrame:
    """(a, b, inter) + per-side sizes → thresholded
    (a, b, inter, union_size, jaccard) — shared miner tail."""
    return (
        inter.join(na, "a")
        .join(nb, "b")
        .withColumn("union_size", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("union_size"))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "inter", "union_size", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ threshold:
    (a, b, inter, union_size, jaccard).

    Candidate generation is the shingle self-join (keyed shuffle), so cost
    is Σ freq(shingle)² — bounded by dropping stop-shingles above
    `max_shingle_freq` at scale."""
    sh = _shingled_ids(df, id_col, text_col)
    # NOT persisted: the l/r self-join sides are identical subplans, so
    # Spark reuses one shuffle (ReusedExchange); caching only adds an
    # in-memory columnar write (measured ~15% slower at sf0.1)
    if max_shingle_freq is not None:
        keep = sh.groupBy("sh").count().filter(F.col("count") <= max_shingle_freq)
        sh = sh.join(keep.select("sh"), "sh")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    l = sh.alias("l")
    r = sh.alias("r")
    inter = (
        l.join(r, "sh")
        .filter(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    return _jaccard_assemble(inter, na, nb, threshold)


def cross_corpus_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Document-level contamination screen between TWO corpora: exact
    word-3-gram Jaccard pairs (a ∈ left, b ∈ right) ≥ threshold —
    the doc-granular complement of `decontaminate`'s n-gram hit test
    (a training doc that paraphrases an eval doc shares most shingles
    without any single verbatim 8-gram).

    Same scale shape as `ngram_jaccard_pairs`: candidate generation IS
    the shingle-keyed left×right join (no crossJoin), cost bounded by
    Σ freq_l(sh)·freq_r(sh) and capped via `max_shingle_freq` computed
    over the UNION (a stop-shingle must be dropped from both sides or
    the intersection count skews). Returns
    (a, b, inter, union_size, jaccard)."""
    lsh = _shingled_ids(left, id_col, text_col)
    rsh = _shingled_ids(right, id_col, text_col)
    if max_shingle_freq is not None:
        freq = (
            lsh.select("sh")
            .unionAll(rsh.select("sh"))
            .groupBy("sh")
            .count()
            .filter(F.col("count") <= max_shingle_freq)
            .select("sh")
        )
        lsh = lsh.join(freq, "sh")
        rsh = rsh.join(freq, "sh")
    na = lsh.groupBy("id").agg(F.count("*").alias("na")).withColumnRenamed("id", "a")
    nb = rsh.groupBy("id").agg(F.count("*").alias("nb")).withColumnRenamed("id", "b")
    inter = (
        lsh.alias("l")
        .join(rsh.alias("r"), "sh")
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_assemble(inter, na, nb, threshold)


# ---------------------------------------------------------------------------
# exact substring dedup (duplicated-span detection — suffix-array style)
# ---------------------------------------------------------------------------


def _dup_gram_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int,
    keep_first: bool = False,
) -> DataFrame:
    """(id, pos) of every token k-gram whose exact text occurs at least
    `min_count` times corpus-wide (all occurrences count, including
    repeats inside one document — the ExactSubstr notion). `pos` is the
    1-based token index of the gram's first token. With `keep_first`,
    each gram's canonical occurrence — smallest (id, pos) — is NOT
    marked, so one copy of every duplicated substring survives scrubbing
    (Lee et al. remove all-but-one, not all).

    One explode + ONE shuffle: the occurrence count / rank is a window
    over the gram's 64-bit hash, so the shuffle key is 8 bytes, not the
    gram text. Skew is bounded by the hottest gram's corpus frequency —
    boilerplate grams concentrate their own occurrences on one key but
    never fan out (no join, no pair enumeration)."""
    grams = _gram_positions(df, id_col, text_col, k)
    if keep_first:
        w = Window.partitionBy("__gh").orderBy(F.col(id_col), F.col("pos"))
        return (
            grams.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") >= min_count)
            .select(id_col, "pos")
        )
    w = Window.partitionBy("__gh")
    return (
        grams.withColumn("__n", F.count("*").over(w))
        .filter(F.col("__n") >= min_count)
        .select(id_col, "pos")
    )


def _gram_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, __gh): every token k-gram as (1-based start position,
    64-bit hash) — the shared explode under span detection; shuffles
    downstream carry the 8-byte hash, never the gram text."""
    from hudi_demo_spark.functions.textfn import word_ngrams

    return (
        _spread(df)
        .select(
            F.col(id_col),
            F.posexplode(word_ngrams(text_col, k)).alias("__p0", "__g"),
        )
        .select(
            id_col,
            (F.col("__p0") + 1).alias("pos"),
            F.xxhash64("__g").alias("__gh"),
        )
    )


def _positions_to_spans(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge marked k-gram start positions into maximal spans per doc —
    gaps-and-islands: sorted positions break where the gap exceeds k.
    Returns (id, span_start, span_len); one doc-keyed shuffle."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    marked = hits.withColumn(
        "__brk",
        F.when(prev.isNull() | (F.col("pos") > prev + k), 1).otherwise(0),
    )
    isl = marked.withColumn(
        "__isl",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k) - F.min("pos")).alias("span_len"),
        )
        .drop("__isl")
    )


def _scrub_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str,
) -> DataFrame:
    """Rewrite `text_col` with every span's tokens removed. The span
    table rides a per-doc array (collect_list — bounded by spans per
    doc) and the token filter is a pure higher-order-function
    expression: no Python UDF, no second pass over the corpus text.
    Documents without spans pass through byte-identical; fully-covered
    documents scrub to the empty string."""
    packed = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_len").alias("n")
            )
        ).alias("__spans")
    )
    joined = df.join(packed, id_col, "left")
    kept = F.filter(
        tokens(text_col),
        lambda x, i: ~F.exists(
            F.col("__spans"),
            lambda sp: ((i + 1) >= sp["s"]) & ((i + 1) < sp["s"] + sp["n"]),
        ),
    )
    scrubbed = F.when(
        F.col("__spans").isNull(), F.col(text_col)
    ).otherwise(F.array_join(kept, " "))
    keep_cols = [c for c in df.columns if c != text_col or out_col != text_col]
    return joined.select(*keep_cols, scrubbed.alias(out_col))


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document: (id, span_start,
    span_len), `span_start` 1-based, spans ≥ k tokens.

    The exact-substring dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (2021), re-expressed for Spark:
    instead of a monolithic suffix array, every token k-gram occurring
    ≥ `min_count` times corpus-wide marks its k tokens as duplicated,
    and overlapping/adjacent marked intervals merge into maximal spans
    (any duplicated substring of length ≥ k is covered by its k-gram
    windows, so span coverage equals the suffix-array answer at
    granularity k). Merge is the classic gaps-and-islands: per doc,
    sorted positions break into islands where the gap exceeds k.

    Two shuffles total (gram hash, then doc id) — no pair enumeration,
    no crossJoin; scales with corpus token count. `keep_first` leaves
    each substring's canonical (smallest id, pos) occurrence unmarked so
    scrubbing preserves one copy — the Lee et al. removal policy."""
    hits = _dup_gram_positions(
        df, id_col, text_col, k, min_count, keep_first=keep_first
    )
    return _positions_to_spans(hits, id_col, k)


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage: (id, n_tokens, n_spans,
    dup_tokens, dup_fraction) for documents with at least one span —
    the corpus-health report that decides whether substring scrubbing
    is worth running."""
    spans = duplicate_spans(df, id_col, text_col, k, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum("span_len").alias("dup_tokens"),
    )
    nt = df.select(F.col(id_col), F.size(tokens(text_col)).alias("n_tokens"))
    return nt.join(per_doc, id_col).select(
        id_col,
        "n_tokens",
        "n_spans",
        "dup_tokens",
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 4).alias(
            "dup_fraction"
        ),
    )


def scrub_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    out_col: str | None = None,
    keep_first: bool = False,
) -> DataFrame:
    """Rewrite `text_col` with every duplicated span's tokens removed
    (all original columns preserved; `out_col` writes beside instead of
    replacing). A document whose every token is covered — an exact
    duplicate — scrubs to the empty string; untouched documents pass
    through byte-identical.

    The span table rides a per-doc array (collect_list — bounded by
    spans-per-doc, not corpus size) and the token filter is a pure
    higher-order-function expression: no Python UDF, no second pass
    over the corpus text."""
    spans = duplicate_spans(
        df, id_col, text_col, k, min_count, keep_first=keep_first
    )
    return _scrub_spans(df, spans, id_col, text_col, out_col or text_col)


def contaminated_spans(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Maximal TRAIN token spans verbatim-shared with the TEST corpus:
    (id, span_start, span_len) — the span-granular eval-decontamination
    complement of `corpus.decontaminate` (which drops whole documents).
    A train k-gram is marked when its exact text occurs anywhere in the
    test set; marked windows merge into maximal spans exactly like
    `duplicate_spans`.

    Scale shape: the test gram set is distinct'd and BROADCAST (eval
    sets are small); train grams stream through map-side — the 100 TB
    side is never shuffled for the marking, only the marked positions
    shuffle by doc for the merge."""
    tg = _gram_positions(train, id_col, text_col, k)
    eg = _gram_positions(test, id_col, text_col, k).select("__gh").distinct()
    hits = tg.join(F.broadcast(eg), "__gh", "left_semi").select(id_col, "pos")
    return _positions_to_spans(hits, id_col, k)


def scrub_contaminated_spans(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    out_col: str | None = None,
) -> DataFrame:
    """Surgical eval decontamination: remove from each TRAIN document
    exactly the token spans shared verbatim with the TEST corpus,
    keeping the rest of the document (Lee et al. 2021's alternative to
    dropping contaminated documents wholesale — at 100 TB, dropping a
    whole web page for one quoted benchmark question wastes data).
    Untouched documents pass through byte-identical."""
    spans = contaminated_spans(train, test, id_col, text_col, k)
    return _scrub_spans(train, spans, id_col, text_col, out_col or text_col)
