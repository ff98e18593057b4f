"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash — all shuffle-aware DataFrame compositions, no driver-side state.

Scale design (the part that matters at 100 TB):
- exact_dedup: one hash-aggregate on a digest column — the cheapest possible
  shuffle (digest, not full text, is the shuffle key payload).
- ngram_jaccard_pairs: inverted-index join (explode shingles -> self-join on
  shingle hash -> count per pair). Never materializes the O(n^2) pair space;
  only pairs sharing >= 1 shingle appear. Hot shingles are the skew risk:
  `max_shingle_freq` drops stop-shingles (df > threshold), the standard
  guard in web-scale dedup.
- minhash: k independent hashes per shingle computed as md5(i || shingle) —
  reproducible cross-engine; at production scale swap in xxhash64(shingle, i).
  LSH bands turn candidate generation into an equi-join on band digests:
  shuffle keys are (band_id, digest), so similarity search costs one
  explode + one join, no pairwise scan.
- simhash: 63-bit sign-aggregated fingerprint; hamming-adjacent buckets are
  found by joining on band slices of the fingerprint.

Every operator is value-checked against a DuckDB oracle that recomputes the
same math from scratch (md5-based hashes make that possible).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from flink_parent_spark.datapipe.cachereg import persist_scoped
from flink_parent_spark.datapipe.spread import spread
from flink_parent_spark.datapipe.text import token_hash64, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Collapse exact duplicates of `text_col`; keep the min id as
    representative. Returns (digest, rep_id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_copies"))
    )


def ngram_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles: array of space-joined n-token windows. Docs
    with fewer than n tokens yield an empty array (a bare
    `sequence(0, size-n)` runs DESCENDING when size < n and its slice(0)
    then errors — guarded by the lazy CASE branch).

    The token array is BOUND as a lambda variable (transform over a
    one-element array) before the per-position lambda slices it:
    referencing the raw `tokens(text)` expression inside the lambda makes
    Catalyst re-run the regex tokenization per shingle — O(T^2) splits on
    a T-token document, ~7x slower end-to-end on real corpora."""
    def build(arr: Column) -> Column:
        sh = F.transform(
            F.sequence(F.lit(0), F.size(arr) - n),
            lambda i: F.concat_ws(" ", F.slice(arr, i + 1, n)),
        )
        return F.when(F.size(arr) >= n, sh).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(tokens(text)), build), 1)


def _spread(df: DataFrame) -> DataFrame:
    """Spread rows across cores before compute-heavy per-row expressions —
    a single input file otherwise pins shingling/hashing to one task. The
    check is conditional: a pre-split input (the cluster-scale case) passes
    through without a shuffle."""
    return spread(df)


def _shingle_table(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(__id, __shingle, __h) rows, distinct shingles per doc."""
    # note: no per-array dedup here (array_distinct is O(k^2) per doc);
    # duplicates are harmless under MIN and removed by DISTINCT where set
    # semantics matter.
    return (
        _spread(df)
        .select(F.col(id_col).alias("__id"), ngram_shingles(F.col(text_col), n).alias("__sh"))
        .select("__id", F.explode("__sh").alias("__shingle"))
        .select("__id", token_hash64(F.col("__shingle")).alias("__h"))
    )


def _jaccard_for_pairs(ha: DataFrame, pairs: DataFrame) -> DataFrame:
    """Jaccard for an explicit candidate-pair set from doc-level shingle-hash
    arrays: two equi-joins attach each side's array (the candidate side is
    small — Catalyst broadcasts it), then intersection/union sizes are pure
    codegen array math. Cost scales with the candidate set, not the corpus,
    and nothing is re-exploded."""
    sets = ha.select("__id", F.array_distinct("__ha").alias("__hs"))
    out = (
        pairs.join(sets.select(F.col("__id").alias("id_a"), F.col("__hs").alias("__sa")), "id_a")
        .join(sets.select(F.col("__id").alias("id_b"), F.col("__hs").alias("__sb")), "id_b")
        .withColumn("common", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("size_a", F.size("__sa"))
        .withColumn("size_b", F.size("__sb"))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
        )
    )
    return out.drop("__sa", "__sb")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All document pairs with n-gram Jaccard >= threshold, via
    inverted-index self-join. Output: (id_a, id_b, common, size_a, size_b,
    jaccard) with id_a < id_b."""
    # persisted: the distinct shingle set feeds the hot-shingle count, the
    # per-doc sizes, and both inverted-index join legs — four consumers
    # with different downstream keys, each otherwise re-running the
    # tokenize+shingle+md5+distinct pass. Scoped: the next call of this
    # operator releases this generation (guide §5 unpersist discipline).
    sh = persist_scoped(
        _shingle_table(df, text_col, id_col, n).select("__id", "__h").distinct(),
        "dedup.ngram_jaccard_pairs.shingles",
    )
    if max_shingle_freq is not None:
        hot = sh.groupBy("__h").count().filter(F.col("count") > max_shingle_freq).select("__h")
        sh = sh.join(hot, "__h", "left_anti")
    sizes = sh.groupBy("__id").agg(F.count("*").alias("__sz"))
    a = sh.select(F.col("__id").alias("id_a"), "__h")
    b = sh.select(F.col("__id").alias("id_b"), "__h")
    common = (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__sz", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")


MINHASH_P = (1 << 31) - 1  # Mersenne prime: a*h+b stays under 2^62 (no wrap)


def minhash_coeffs(k: int) -> tuple[list[int], list[int]]:
    """Deterministic affine-permutation coefficients (a_i, b_i) for the
    universal hash family ph_i = (a_i * h + b_i) mod P. Shared by the Spark
    operators and the DuckDB oracle-SQL generator so both engines compute
    the identical family."""
    a = [(2654435761 * (i + 1)) % MINHASH_P for i in range(k)]
    b = [(40503 * (i + 1) * (i + 1) + 12345) % MINHASH_P for i in range(k)]
    return a, b


def _shingle_hash_arrays(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(__id, __ha: array<bigint>) — one row per doc, one md5 per shingle.
    The doc-level array form keeps signature/banding computation map-side."""
    return _spread(df).select(
        F.col(id_col).alias("__id"),
        F.transform(ngram_shingles(F.col(text_col), n), token_hash64).alias("__ha"),
    )


def _sig_array(ha: Column, k: int) -> Column:
    """MinHash signature array: sig_i = min over shingle hashes h of
    (a_i * (h mod P) + b_i) mod P.

    Integer affine permutations replace the original per-(shingle, perm)
    md5 re-hash: k multiply-adds per shingle instead of k string digests,
    and the whole signature is one whole-stage-codegen expression per doc —
    no explode, no shuffle. Cross-engine reproducible (plain int64
    arithmetic, products < 2^62 so neither engine overflows)."""
    a, b = minhash_coeffs(k)
    hp = F.transform(ha, lambda h: ((h % MINHASH_P) + MINHASH_P) % MINHASH_P)

    def perm_min(ai: int, bi: int) -> Column:
        # single-arg lambda: a 2-arg transform lambda would receive the
        # element index as its second argument
        return F.array_min(
            F.transform(hp, lambda h: (F.lit(ai) * h + F.lit(bi)) % MINHASH_P)
        )

    return F.array(*[perm_min(a[i], b[i]) for i in range(k)])


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    _ha: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per doc, long format
    (id, perm, minhash) — keeps the band join a plain equi-join downstream.
    Entirely map-side: one md5 per shingle, then k affine permutations per
    shingle hash inside one codegen stage (see `_sig_array`)."""
    ha = _ha if _ha is not None else _shingle_hash_arrays(df, text_col, id_col, n)
    return (
        ha.filter(F.size("__ha") > 0)
        .select(F.col("__id").alias("id"), _sig_array(F.col("__ha"), k).alias("__sig"))
        .select("id", F.posexplode("__sig").alias("perm", "minhash"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing at least one band digest
    (k/bands rows per band). If verify_threshold is set, candidates are
    verified with the true n-gram Jaccard and filtered. Output:
    (id_a, id_b [, jaccard]).

    Scale shape: signature + banding are shuffle-free map work over the
    corpus scan; the only shuffles are the band-key equi-join (candidate
    generation) and the verify joins, both scaling with candidates, not
    with the O(n^2) pair space."""
    rows_per_band = k // bands
    # shared doc-level shingle-hash arrays: persisted so the signature and
    # verify branches scan/shingle/md5 the corpus once (at cluster scale
    # this would be a checkpoint to reliable storage instead). Scoped: the
    # next call of this operator releases this generation (guide §5).
    ha = persist_scoped(
        _shingle_hash_arrays(df, text_col, id_col, n),
        "dedup.minhash_lsh_pairs.shingle_arrays",
    )
    sig_doc = ha.filter(F.size("__ha") > 0).select(
        "__id", _sig_array(F.col("__ha"), k).alias("__sig")
    )
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    F.lit(j),
                    F.array_join(
                        F.slice(F.col("__sig"), j * rows_per_band + 1, rows_per_band), "_"
                    ),
                )
            )
            for j in range(bands)
        ]
    )
    banded = sig_doc.select("__id", F.explode(band_keys).alias("band_key"))
    a = banded.select(F.col("__id").alias("id_a"), "band_key")
    b = banded.select(F.col("__id").alias("id_b"), "band_key")
    cand = (
        a.join(b, "band_key").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    )
    if verify_threshold is None:
        return cand
    verified = _jaccard_for_pairs(ha, cand)
    return verified.filter(F.col("jaccard") >= verify_threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 63) -> DataFrame:
    """SimHash fingerprint: per bit b, majority vote of token-hash bit b over
    the document's tokens; fingerprint = sum of 2^b over winning bits.
    63 bits keeps the result in a positive BIGINT. Output: (id, simhash)."""
    tok = (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t"))
        .select("id", F.explode("__t").alias("__tok"))
        .select("id", token_hash64(F.col("__tok")).alias("__h"))
    )
    votes = (
        tok.select(
            "id", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"), F.col("__h")
        )
        .withColumn("vote", F.when(F.expr("shiftright(__h, bit) & 1") == 1, 1).otherwise(-1))
        .groupBy("id", "bit")
        .agg(F.sum("vote").alias("s"))
    )
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0)
        ).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 63,
) -> DataFrame:
    """SimHash near-duplicate pairs at scale (Manku/Jain/Sarma WWW'07,
    public algorithm): fingerprints split into `bands` contiguous bit
    bands; candidate pairs share at least one exact band value (an
    equi-join on (band, value) — never all-pairs) and verify by full
    Hamming distance.

    EXACTNESS: with `max_hamming < bands`, the pigeonhole principle
    guarantees every pair within the Hamming threshold leaves at least one
    band untouched, so banding finds ALL qualifying pairs — the banded
    search equals a brute-force Hamming scan, at equi-join cost.

    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for "
            "the pigeonhole completeness guarantee"
        )
    sh = persist_scoped(
        simhash(df, text_col, id_col, bits=bits),
        "dedup.simhash_pairs.fingerprints",
    )
    width = -(-bits // bands)  # ceil
    banded = sh.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "bval",
        F.expr(
            f"shiftright(simhash, band * {width}) & CAST({(1 << width) - 1} AS BIGINT)"
        ),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprints(
    df,
    k: int = 4,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm; public): hash every token k-gram,
    then keep the minimum hash of each sliding window of w consecutive
    k-gram hashes. The selected set is a position-robust fingerprint —
    guaranteed to share a fingerprint with any copy of a sufficiently long
    passage (length >= w + k - 1 tokens).

    Set semantics (DISTINCT of per-window minima) match the classic
    algorithm's output; ties collapse in the set as in the reference
    formulation. Plan: explode the token array ONCE into (pos, token)
    rows, build each k-gram from window lead()s, then the winnow-window
    MIN + DISTINCT — everything after the explode shares a single doc_id
    shuffle. (The previous form sliced k-grams out of a `tokens(text)`
    expression inside a transform lambda; Catalyst re-evaluates the
    inlined tokenization per gram, turning a T-token document into O(T^2)
    regex splits — 20x slower on long documents.)

    Output: (id, fp) distinct fingerprint rows."""
    from pyspark.sql import Window

    from flink_parent_spark.datapipe.text import token_hash64, tokens

    tok_rows = df.select(
        id_col, F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    order = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", j).over(order) for j in range(1, k)]
    )
    n_tok = F.count("*").over(Window.partitionBy(id_col))
    g = tok_rows.select(
        id_col,
        "pos",
        token_hash64(gram).alias("h"),
        n_tok.alias("__ntok"),
    ).where(F.col("pos") <= F.col("__ntok") - k)  # full k-grams only
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        g.withColumn("fp", F.min("h").over(win))
        # full winnow windows only: gram count = ntok - k + 1
        .where(F.col("pos") <= F.col("__ntok") - k - w + 1)
        .select(id_col, "fp")
        .distinct()
    )


def winnow_pairs(
    df,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Near-duplicate pairs by shared winnowed fingerprints: inverted-index
    equi-join on the fingerprint value (never materializes doc x doc),
    pairs ranked by the number of shared fingerprints."""
    # persisted: both join legs read the fingerprint set, and recomputing
    # it means re-running the two per-doc window passes over the corpus.
    # Scoped: the next call releases this generation (guide §5).
    fps = persist_scoped(
        winnow_fingerprints(df, k, w, id_col, text_col),
        "dedup.winnow_pairs.fingerprints",
    )
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 20,
    min_docs: int = 2,
    max_gram_freq: "int | None" = 100_000,
) -> DataFrame:
    """Exact duplicated-substring detection — the substring-level dedup of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., arXiv:2107.06499), which a single machine does with a suffix
    array, re-expressed as a distributed inverted index over ALL rolling
    n-token grams (not the sampled winnowing fingerprints): an n-token
    span is duplicated iff its exact text occurs in >= `min_docs` distinct
    documents.

    Returns one row per document that has at least one n-token gram
    (shorter documents have no spans to check and are absent):
    `(id, n_grams, n_dup_grams, n_dup_tokens)` where `n_dup_tokens` is
    the exact size of the union of all duplicated spans' token positions
    (the number of tokens the Lee et al. pipeline would cut).

    Scale shape: tokenize/gram/hash are map-side codegen (the shingle
    array is bound once per row, see ngram_shingles); the only shuffles
    are the groupBy on the 64-bit gram hash (the inverted index — skew
    from boilerplate grams is bounded by `max_gram_freq`, which drops
    degenerate grams hotter than the cap the same way the Jaccard path
    does) and the final per-doc aggregate. The position-union explode
    multiplies dup grams by n, not the corpus, so cost tracks the
    duplicated volume — at 100 TB you'd only pay for what you cut."""
    # like _shingle_table but position-preserving (posexplode): the span
    # union needs each gram's start offset. NOT persisted: the gram table
    # feeds three branches, but caching the exploded rows measured SLOWER
    # than recomputing them (r15 A/B 1.36 -> 1.80 s at sf0.1) — the
    # tokenize+gram+md5 recompute is pure codegen while the cache pays
    # serialization of every exploded row.
    g = (
        _spread(df)
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(ngram_shingles(F.col(text_col), n)).alias(
                "__pos", "__gram"
            ),
        )
        .select("__id", "__pos", token_hash64(F.col("__gram")).alias("__gh"))
    )
    dup = g.groupBy("__gh").agg(
        F.count_distinct("__id").alias("__nd"), F.count("*").alias("__cnt")
    )
    dup = dup.filter(F.col("__nd") >= min_docs)
    if max_gram_freq is not None:
        dup = dup.filter(F.col("__cnt") <= max_gram_freq)
    dup_grams = g.join(dup.select("__gh"), "__gh", "left_semi")
    per_doc_grams = g.groupBy("__id").agg(F.count("*").alias("n_grams"))
    per_doc_dup = dup_grams.groupBy("__id").agg(
        F.count("*").alias("n_dup_grams")
    )
    covered = (
        dup_grams.select(
            "__id",
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.lit(n - 1))
            ).alias("__tok"),
        )
        .distinct()
        .groupBy("__id")
        .agg(F.count("*").alias("n_dup_tokens"))
    )
    return (
        per_doc_grams.join(per_doc_dup, "__id", "left")
        .join(covered, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        )
    )


def _token_lines(text: Column, width: int) -> Column:
    """Group a document's tokens into fixed `width`-token "lines" (array of
    space-joined strings). Corpora with real newlines should split on those
    instead (see line_dedup's `split_pattern`); this windowing is the
    deterministic line model for single-line corpora. The token array is
    bound as a lambda variable once per row (same O(T^2)-avoidance as
    ngram_shingles)."""

    def build(arr: Column) -> Column:
        n_lines = F.ceil(F.size(arr) / F.lit(width)).cast("int")
        built = F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.concat_ws(" ", F.slice(arr, i * width + 1, width)),
        )
        return F.when(F.size(arr) > 0, built).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(tokens(text)), build), 1)


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    split_pattern: "str | None" = None,
    line_tokens: int = 12,
) -> DataFrame:
    """Corpus-level line deduplication, the CCNet preprocessing step
    (arXiv:1911.00359: drop every repeated line/paragraph, keeping its
    first occurrence) that removes boilerplate (headers, nav bars, legal
    footers) from web corpora before document-level dedup.

    Lines come from `split_pattern` (a regex, e.g. '\\n') when given, else
    from `line_tokens`-token windows (the line model for corpora without
    newlines). "First occurrence" is the globally smallest (id, position)
    over the whole corpus, per exact normalized (trimmed) line text — the
    rank window is keyed by (hash, trimmed text), so two distinct lines
    colliding in the 60-bit hash still rank independently; deterministic
    under any partitioning. Returns one row per input document — including
    documents that produce zero lines (empty/whitespace-only text), which
    keep text='' with n_lines=0 — and a document whose every line was seen
    earlier likewise keeps an empty text.

    Scale shape: line building is map-side codegen; the first-occurrence
    rank is ONE shuffle partitioned by the 64-bit line hash (high
    cardinality, no skew in the partitioner — a boilerplate line repeated
    a billion times still lands in one partition and pays a per-partition
    sort there; the rn column also feeds the n_lines/n_dropped aggregates,
    so no rn=1 group-limit pushdown applies — cap pathological line
    frequency upstream if a corpus has a billion-fold repeated line);
    reassembly is one groupBy on the doc id plus a broadcast-or-shuffle
    left join back to the input ids. Nothing is quadratic and no
    driver-side state exists, so the shape holds at 100 TB."""
    if split_pattern is not None:
        raw = F.split(F.col(text_col), split_pattern)
        arr = F.filter(raw, lambda s: F.trim(s) != "")
    else:
        arr = _token_lines(F.col(text_col), line_tokens)
    lines = _spread(df).select(
        F.col(id_col).alias("__id"), F.posexplode(arr).alias("__pos", "__line")
    )
    lines = lines.withColumn("__h", token_hash64(F.trim(F.col("__line"))))
    # Partitioning the rank by (hash, exact trimmed text) — not hash alone —
    # means a 60-bit collision between two DISTINCT lines cannot silently
    # drop the later one. Same single shuffle: the hash dominates the key.
    w = Window.partitionBy("__h", F.trim(F.col("__line"))).orderBy(
        "__id", "__pos"
    )
    ranked = lines.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("__pos"), F.col("__line"))
    )
    agg = (
        ranked.groupBy("__id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum((F.col("__rn") > 1).cast("long")).alias("n_dropped"),
            F.sort_array(F.collect_list(kept_struct)).alias("__kept"),
        )
        .select(
            "__id",
            F.array_join(
                F.transform("__kept", lambda s: s.getField("__line")), " "
            ).alias("text"),
            "n_lines",
            "n_dropped",
        )
    )
    # Documents with zero lines (empty / whitespace-only text) emit no
    # posexplode rows; join the aggregate back to the full id set so every
    # input document appears in the output, as documented.
    # No _spread here: the id set is a one-column distinct, so an upfront
    # repartition only adds a shuffle leg before the join (r8 ADVICE).
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return (
        ids.join(agg, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
            F.coalesce("n_dropped", F.lit(0).cast("long")).alias("n_dropped"),
        )
    )


def bloom_build(corpus: DataFrame, text_col: str, m: int, k: int = 4) -> DataFrame:
    """Distributed Bloom filter over md5(text): `(bucket, word)` rows — the
    m-bit array packed 63 bits per row (bit 63 stays clear: DuckDB's
    checked BIGINT shift rejects 1<<63, and the oracle must reproduce the
    filter exactly). Each document sets `k` positions
    derived from disjoint 32-bit slices of its md5 (deterministic, so an
    independent engine reproduces the exact filter, false positives
    included). Build is one groupBy over at most m/64 buckets with a
    BIT_OR combiner — fully map-side-combinable, no driver state (unlike
    `DataFrame.stat.bloomFilter`, which assembles the array on the
    driver)."""
    if k < 1 or k > 4:
        raise ValueError("k must be in 1..4 (md5 yields four 32-bit slices)")
    d = corpus.select(F.md5(F.col(text_col)).alias("__d"))
    pos = d.select(
        F.explode(
            F.array(
                *[
                    (
                        F.conv(F.substring("__d", j * 8 + 1, 8), 16, 10).cast("long")
                        % m
                    )
                    for j in range(k)
                ]
            )
        ).alias("__pos")
    ).distinct()
    return pos.select(
        (F.col("__pos") / 63).cast("long").alias("bucket"),
        (F.col("__pos") % 63).cast("int").alias("bit"),
    ).groupBy("bucket").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("word")
    )


def bloom_incremental_dedup(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str,
    id_col: str,
    m: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Incremental dedup of a new batch against an existing corpus via a
    distributed Bloom filter — the standing-corpus membership check a
    crawl-refresh pipeline runs before document-level dedup (you cannot
    re-join yesterday's 100 TB for every new shard; you keep a filter).

    Returns `(id, maybe_dup)` for every probe document: maybe_dup=true iff
    all `k` Bloom positions of md5(text) are set by the corpus — exact
    duplicates are always flagged (no false negatives); false-positive
    rate ~ (n*k/m)^k, sized by `m`.

    Scale shape: the filter is `(bucket, word)` rows, NOT a driver-side
    array — the probe explodes its k positions and equi-joins on bucket,
    so Catalyst broadcasts the filter while it fits
    (autoBroadcastJoinThreshold) and falls back to a shuffle join on the
    same key when a 100 TB corpus needs a multi-GB filter. Nothing ever
    collects."""
    bloom = bloom_build(corpus, text_col, m, k)
    p = probe.select(
        F.col(id_col).alias("__id"), F.md5(F.col(text_col)).alias("__d")
    )
    ppos = p.select(
        "__id",
        F.explode(
            F.array(
                *[
                    (
                        F.conv(F.substring("__d", j * 8 + 1, 8), 16, 10).cast("long")
                        % m
                    )
                    for j in range(k)
                ]
            )
        ).alias("__pos"),
    )
    hits = (
        ppos.select(
            "__id",
            (F.col("__pos") / 63).cast("long").alias("bucket"),
            (F.col("__pos") % 63).cast("int").alias("bit"),
        )
        .join(bloom, "bucket", "left")
        .select(
            "__id",
            (
                F.expr("shiftright(coalesce(word, CAST(0 AS BIGINT)), bit) & CAST(1 AS BIGINT)")
            ).alias("__set"),
        )
    )
    return hits.groupBy("__id").agg(
        (F.min("__set") == 1).alias("maybe_dup")
    ).select(F.col("__id").alias(id_col), "maybe_dup")
