"""Embedding similarity-search operators: brute-force cosine top-k and
block-partitioned (IVF-style) top-k over array<float> columns.

All arithmetic is a sequential double-precision fold over the vector
(F.aggregate over zip_with) — JVM-side, codegen'd, and bit-reproducible in
any engine with a sequential list-reduce, which is what lets DuckDB oracle-
check cosine values exactly.

Scale design:
- cosine_topk broadcasts the (small) query set and computes per-candidate
  dots in a single pass over the candidate table — no shuffle of the
  candidates at all; the only shuffle is the final per-query top-k
  (rank <= k benefits from WindowGroupLimit partial top-k map-side).
- block_topk (IVF-ish) adds an equi-join on a block/centroid id so each
  query only scans its block — the standard recall/cost trade; here blocks
  come from a precomputed partition column (e.g. a cluster label).
- At 100 TB the same plan holds: candidates stay partition-local, queries
  broadcast, top-k is the only aggregation.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from flink_parent_spark.datapipe.spread import spread


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _d_tok(v: float) -> str:
    """SQL token for one double literal. Finite values use repr()'s
    shortest round-trip digits with the D suffix; non-finite values have
    no typed-literal spelling (repr gives 'nan'/'inf', and 'nanD' fails to
    resolve as a column), so they go through the double() cast, which
    Spark folds to the exact special value."""
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    if math.isnan(v):
        return "double('NaN')"
    return "double('Infinity')" if v > 0 else "double('-Infinity')"


def _lit_d1(vals: "list[float]") -> Column:
    """Literal array<double> built as ONE parsed SQL expression instead of
    per-element F.lit calls: each lit is a py4j round-trip (~0.7 ms), so a
    64-dim centroid array costs ~0.4 s of pure driver latency per call
    site, vs ~1.4 ms for the parser (measured; ~270x). repr() emits the
    shortest digits that round-trip to the identical IEEE double, so the
    parsed literal is bit-identical to the F.lit form."""
    if not vals:
        return F.array().cast("array<double>")
    return F.expr("array(" + ",".join(_d_tok(v) for v in vals) + ")")


def _lit_d2(rows: "list[list[float]]") -> Column:
    """Literal array<array<double>> as one parsed expression (see _lit_d1)."""
    inner = ",".join(
        "array(" + ",".join(_d_tok(v) for v in r) + ")" for r in rows
    )
    return F.expr(f"array({inner})")


def _seq_norm(cv: list[float]) -> float:
    """Driver-side twin of `norm()`: the identical sequential double fold
    (x*x products accumulated left-to-right from 0.0, then sqrt), so the
    value is bit-identical to evaluating norm() on the same literal —
    Python floats ARE IEEE doubles and math.sqrt is correctly rounded."""
    acc = 0.0
    for x in cv:
        x = float(x)
        acc += x * x
    return math.sqrt(acc)


def _best_cells(cent: list[list[float]], vec: Column, n: int) -> Column:
    """Ordinals of the `n` nearest centroids (cosine desc, ordinal tiebreak).

    Scoring cost per row is one norm fold + k dot folds (the centroids are
    driver-side literals, so their norms are precomputed with `_seq_norm`
    and inlined, and the row vector's norm is BOUND once as a lambda
    variable) — the naive `transform(cents, cv -> cosine(cv, vec))` form
    costs 3k folds per row because higher-order functions are interpreted
    per element and re-evaluate norm(vec) for every centroid. Same
    arithmetic in the same order, so scores and ranking are bit-identical.

    The centroid vectors and norms enter the plan as two parsed literal
    arrays (`_lit_d1`/`_lit_d2` — one py4j call each instead of k*dim
    F.lit round-trips; the per-query driver cost of literal construction
    dominated the small-scale ANN entries)."""
    k = len(cent)
    cvs = _lit_d2(cent)
    cns = _lit_d1([_seq_norm(cv) for cv in cent])

    def build(nv: Column) -> Column:
        scored = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.struct(
                (
                    -(
                        dot(F.element_at(cvs, i + 1), vec)
                        / (F.element_at(cns, i + 1) * nv)
                    )
                ).alias("negc"),
                i.alias("cell"),
            ),
        )
        return F.transform(F.slice(F.sort_array(scored), 1, n), lambda s: s["cell"])

    return F.element_at(F.transform(F.array(norm(vec)), build), 1)


def hash_bucket100(col: Column) -> Column:
    """Deterministic 0-99 bucket from the md5 of a key — the repo's
    engine-portable sampling primitive (same formula as
    `sample_hash_stratified`; DuckDB reproduces it exactly)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
        % 100
    )


def train_kmeans_centroids(
    candidates: DataFrame,
    n_centroids: int,
    n_iters: int,
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    sample_pct: int | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd iterations, DataFrame-native.

    - sample: with `sample_pct`, training reads only the rows whose
      md5-bucket of `cand_id` falls under the percentage — a deterministic,
      engine-reproducible subset, so at 100 TB each Lloyd iteration scans a
      bounded slice of the corpus instead of all of it (search still covers
      every vector; only centroid fitting is sampled);
    - init: the `n_centroids` lowest-id vectors of the training set
      (reproducible seed);
    - assign: map-side argmax-cosine against a literal centroid array — no
      shuffle, whole-stage codegen;
    - update: per-(cell, dim) exact mean via posexplode + decimal-sum (the
      repo's cross-engine float-determinism contract), one shuffle of
      k*d groups; only k*d doubles ever reach the driver.

    An empty cell keeps its previous centroid. The training set's cache is
    released before returning.
    """
    train = candidates
    if sample_pct is not None:
        train = train.filter(hash_bucket100(F.col(cand_id)) < sample_pct)
    train = train.persist()  # scanned once per Lloyd iteration
    try:
        init = (
            train.select(F.col(cand_id).alias("cid"), F.col(vec_col).alias("cv"))
            .orderBy("cid")
            .limit(n_centroids)
            .collect()
        )
        cent = [[float(x) for x in r["cv"]] for r in init]
        if not cent:
            return []  # empty training set: callers must handle no-centroids
        dim = len(cent[0])
        for _ in range(n_iters):
            # two selects: a generator (posexplode) in the same projection as
            # the lambda-struct expression makes Catalyst's generator rewrite
            # drop the struct field aliases inside the higher-order function
            assigned = train.select(
                _best_cells(cent, F.col(vec_col), 1)[0].alias("cell"),
                F.col(vec_col).alias("__v"),
            ).select("cell", F.posexplode(F.col("__v")).alias("dim", "x"))
            agg = assigned.groupBy("cell", "dim").agg(
                (
                    F.sum(F.col("x").cast("double").cast("decimal(38,18)")).cast("double")
                    / F.count("x").cast("double")
                ).alias("m")
            )
            got = {(r["cell"], r["dim"]): r["m"] for r in agg.collect()}
            cent = [
                [got[(ci, d)] for d in range(dim)] if (ci, 0) in got else cent[ci]
                for ci in range(len(cent))
            ]
        return cent
    finally:
        train.unpersist()


def ivf_kmeans_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_centroids: int = 4,
    nprobe: int = 2,
    n_iters: int = 2,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_pct: int | None = None,
) -> DataFrame:
    """IVF approximate top-k with k-means-TRAINED centroids (vs the seeded
    coarse quantizer of `ivf_topk`): Lloyd-refined cells fit the data
    distribution, cutting the probe miss rate for the same nprobe. Search
    plan is identical to `ivf_topk` — centroid training changes only the
    literal centroid array. `train_sample_pct` bounds training to a
    deterministic md5-bucket sample of the corpus (the 100 TB path)."""
    cent = train_kmeans_centroids(
        candidates, n_centroids, n_iters, cand_id, vec_col, sample_pct=train_sample_pct
    )
    # norms computed ONCE per row before the join (the naive per-pair
    # cosine() re-folds both norms for every joined pair; dividing the
    # per-pair dot by the precomputed product is the same doubles in the
    # same order — norm(q)*norm(c) — so values are bit-identical)
    c = spread(candidates).select(
        F.col(cand_id).alias("cand_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
        _best_cells(cent, F.col(vec_col), 1)[0].alias("__cell"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
        _best_cells(cent, F.col(vec_col), nprobe).alias("__cells"),
    ).select("query_id", "__qv", "__qn", F.explode("__cells").alias("__cell"))
    scored = (
        c.join(F.broadcast(q), "__cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize into `n_centroids` cells, then
    each query scans only its `nprobe` nearest cells.

    Centroids are seeded deterministically (the `n_centroids` lowest-id
    candidate vectors) so results are reproducible and oracle-checkable; a
    production deployment would swap in k-means centroids (e.g. MLlib) —
    the search plan below is unchanged by how centroids are trained.

    Scale design (the point of IVF at 100 TB):
    - The centroid table is tiny and is inlined as a literal array, so cell
      assignment is pure map-side expression work — no shuffle, no join, and
      whole-stage codegen keeps it JVM-side.
    - Candidates are scanned once to tag a cell; each query then joins only
      its nprobe cells, cutting scanned vectors to ~nprobe/n_centroids of
      the corpus. The only shuffles are the cell equi-join and final top-k.
    - Output matches cosine_topk: (query_id, cand_id, cosine, rank).
    """
    cent = (
        candidates.select(F.col(cand_id).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    cent_vecs = [[float(x) for x in r["cv"]] for r in cent]

    # norms computed once per row before the join (bit-identical to the
    # per-pair cosine(): same folds, same norm(q)*norm(c) operand order)
    c = spread(candidates).select(
        F.col(cand_id).alias("cand_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
        _best_cells(cent_vecs, F.col(vec_col), 1)[0].alias("__cell"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
        _best_cells(cent_vecs, F.col(vec_col), nprobe).alias("__cells"),
    ).select("query_id", "__qv", "__qn", F.explode("__cells").alias("__cell"))
    scored = (
        c.join(F.broadcast(q), "__cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Top-k candidates per query by cosine similarity.

    block_col: if set, only candidates sharing the query's block value are
    scanned (IVF-style bucketed search — the scale path). Output:
    (query_id, cand_id, cosine, rank), excluding self-matches.

    Without block_col the plan is a corpus x queries crossJoin — a
    deliberate brute-force baseline that is O(|corpus| * |queries|) and
    must never run by accident at scale. It is fenced: pass
    allow_full_scan=True to opt in, otherwise ValueError. The scale-safe
    siblings are the blocked form here, `ivf_topk`, and `ivf_pq_topk`.
    """
    if block_col is None and not allow_full_scan:
        raise ValueError(
            "cosine_topk without block_col is a full corpus x queries scan; "
            "pass allow_full_scan=True to run the brute-force baseline, or "
            "use block_col / ivf_topk / ivf_pq_topk for the indexed path"
        )
    # norms computed once per row before the join (bit-identical to the
    # per-pair cosine(): same folds, same norm(q)*norm(c) operand order)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
        *([F.col(block_col).alias("__qb")] if block_col else []),
    )
    # spread candidates across cores: a single input file otherwise pins the
    # per-candidate fold to one task (pre-split inputs pass through)
    c = spread(candidates).select(
        F.col(cand_id).alias("cand_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
        *([F.col(block_col).alias("__cb")] if block_col else []),
    )
    if block_col:
        joined = c.join(F.broadcast(q), F.col("__qb") == F.col("__cb"))
    else:
        joined = c.crossJoin(F.broadcast(q))
    scored = (
        joined.filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def sqdist(a: Column, b: Column) -> Column:
    """Sequential double-precision squared L2 distance of two float arrays."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    m: int = 4,
    ks: int = 4,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    allow_full_scan: bool = False,
) -> DataFrame:
    """Product-quantization approximate top-k (the compressed-domain scale
    path beyond IVF): vectors are encoded as `m` sub-space code ids against
    per-subspace codebooks of `ks` entries, and search ranks candidates by
    the asymmetric distance (ADC): the sum over subspaces of the squared L2
    distance between the query's subvector and the candidate's codeword.
    (See `_pq_codebooks` for how the codebook literal is constructed.)

    Scale design:
    - Codebooks are tiny literals (m*ks*subdim doubles) — encoding is pure
      map-side expression work over the candidate scan, no shuffle, and the
      stored representation is m small ints per vector (the 100 TB win:
      the corpus compresses from d floats to m bytes per vector).
    - ADC scoring joins the encoded corpus to the broadcast query set; the
      per-pair cost is m lookups + m small folds instead of a d-length dot.
    - Codebooks here are seeded deterministically (subvectors of the `ks`
      lowest-id candidates) so the oracle can reproduce them; production
      training would run Lloyd per subspace exactly like
      `train_kmeans_centroids` — the encode/search plan is unchanged.

    Output: (query_id, cand_id, adist, rank), rank 1 = smallest ADC.

    Like the un-blocked cosine_topk, plain IndexPQ scans every encoded
    candidate per query (ADC crossJoin) — cheap per pair but still a full
    scan. Fenced behind allow_full_scan=True; the composed cell-pruned
    form is `ivf_pq_topk` (FAISS IVFADC)."""
    if not allow_full_scan:
        raise ValueError(
            "pq_topk scans every encoded candidate per query (ADC "
            "crossJoin); pass allow_full_scan=True to run the flat-PQ "
            "baseline, or use ivf_pq_topk for the cell-pruned path"
        )
    cb_lit, subdim = _pq_codebooks(candidates, m, ks, cand_id, vec_col)
    c = spread(candidates).select(
        F.col(cand_id).alias("cand_id"),
        _pq_codes(cb_lit, subdim, m, ks, F.col(vec_col)).alias("__codes"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _pq_dtab(cb_lit, subdim, m, F.col(vec_col)).alias("__dtab"),
    )
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("cand_id")
    )
    scored = joined.withColumn(
        "adist", _pq_adist(F.col("__dtab"), F.col("__codes"), m)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "adist", "rank")
    )


def _pq_codebooks(
    candidates: DataFrame, m: int, ks: int, cand_id: str, vec_col: str
) -> tuple[Column, int]:
    """Seeded PQ codebooks as a literal array<array<array<double>>> indexed
    [subspace][code][dim]: subvectors of the `ks` lowest-id candidates —
    deterministic and oracle-reproducible. Returns (literal, subdim).

    The dim probe shares the seeds collect (one Spark job instead of two)
    and the literal is ONE parsed expression (`_lit_d1` rationale) instead
    of m*ks*subdim F.lit py4j round-trips."""
    seeds = (
        candidates.select(F.col(cand_id).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .limit(ks)
        .collect()
    )
    if not seeds:
        raise ValueError("pq codebooks need a non-empty candidate set")
    dim = len(seeds[0]["cv"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m
    cb = [
        [
            [float(x) for x in r["cv"][j * subdim : (j + 1) * subdim]]
            for r in seeds
        ]
        for j in range(m)
    ]
    inner = ",".join(
        "array("
        + ",".join(
            "array(" + ",".join(_d_tok(v) for v in code) + ")" for code in cbj
        )
        + ")"
        for cbj in cb
    )
    cb_lit = F.expr(f"array({inner})")
    return cb_lit, subdim


def _pq_sub(vec: Column, j: int, subdim: int) -> Column:
    return F.slice(vec, j * subdim + 1, subdim)


def _pq_codes(cb_lit: Column, subdim: int, m: int, ks: int, vec: Column) -> Column:
    """Array of `m` code ordinals: per subspace, argmin squared-L2 against
    the codebook (ordinal tiebreak). Pure map-side expression work."""

    def code_at(j: int) -> Column:
        # NB: the transform lambda must be single-parameter — a defaulted
        # second parameter would make PySpark treat it as the (element,
        # index) form and bind the array ordinal over the default. The
        # closure over `j` is safe: PySpark invokes the lambda eagerly
        # while building the expression.
        # The query subvector slice is BOUND once as a lambda variable:
        # referencing `_pq_sub(vec, j, subdim)` inside the per-codeword
        # lambda makes Catalyst re-slice the vector per codebook entry
        # (ks slices per subspace instead of 1 — the invariant-subtree
        # class of the r15/r16 HOF sweep).
        def build(sub: Column) -> Column:
            scored = F.zip_with(
                F.transform(cb_lit[j], lambda cv: sqdist(sub, cv)),
                F.sequence(F.lit(0), F.lit(ks - 1)),
                lambda d, i: F.struct(d.alias("dist"), i.alias("code")),
            )
            return F.sort_array(scored)[0]["code"]

        return F.element_at(
            F.transform(F.array(_pq_sub(vec, j, subdim)), build), 1
        )

    return F.array(*[code_at(j) for j in range(m)])


def _pq_dtab(cb_lit: Column, subdim: int, m: int, qv: Column) -> Column:
    """Per-QUERY ADC distance table (the classic IVFADC lookup table,
    Jegou et al. 2011 §IV): dtab[j][c] = sqdist(query subvector j,
    codeword c of subspace j). Computed once per query row BEFORE the
    cell join, so each joined pair pays m array lookups instead of m
    subdim-length folds — and the query VECTOR no longer needs to enter
    the join at all (the broadcast carries m*ks doubles per query
    instead of the vector plus per-pair fold work). Each table entry is
    the identical sqdist expression the per-pair form evaluated, so ADC
    values are bit-identical.

    The query subvector is bound as a lambda variable per subspace
    (invariant-subtree rule, see _pq_codes)."""

    def tab_at(j: int) -> Column:
        def build(sub: Column) -> Column:
            return F.transform(cb_lit[j], lambda cv: sqdist(sub, cv))

        return F.element_at(
            F.transform(F.array(_pq_sub(qv, j, subdim)), build), 1
        )

    return F.array(*[tab_at(j) for j in range(m)])


def _pq_adist(dtab: Column, codes: Column, m: int) -> Column:
    """Asymmetric distance from the per-query table: sum over subspaces
    (fixed j order — the same deterministic left-to-right sum as the
    previous per-pair fold form; each term is the identical double) of
    dtab[j][codes[j]]."""
    adist = None
    for j in range(m):
        term = F.element_at(dtab[j], codes[j] + 1)
        adist = term if adist is None else adist + term
    return adist


def ivf_pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ks: int = 4,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed — the standard FAISS IVFADC layout (Jegou et al.
    2011, public algorithm) re-expressed as DataFrame ops: a coarse
    quantizer routes each query to `nprobe` cells, and within a cell
    candidates rank by PQ asymmetric distance (ADC) against their
    compressed codes. This removes the full-corpus scan plain `pq_topk`
    pays (its crossJoin scores every candidate for every query): scanned
    vectors per query drop to ~nprobe/n_centroids of the corpus AND each
    scored pair costs m codeword folds instead of a d-dim dot product.

    Scale design at 100 TB:
    - cell assignment and PQ encoding are ONE map-side pass over the
      candidate scan (literal centroid/codebook arrays, whole-stage
      codegen, no shuffle; `spread` only kicks in for narrow local
      inputs) — the corpus-side search representation is 1 small int +
      m codes per vector, the compression win that makes the index fit;
    - queries explode to nprobe cells and broadcast; the only shuffles are
      the cell equi-join and the final per-query top-k
      (WindowGroupLimit partial top-k map-side);
    - no crossJoin anywhere in the plan (asserted in tests/test_plans.py).

    Coarse centroids and codebooks are deterministically seeded (lowest-id
    vectors / their subvectors) so a SQL oracle reproduces routing,
    encoding, and ADC ranking bit-exactly; production would swap in
    Lloyd-trained versions (`train_kmeans_centroids`) without changing the
    search plan.

    Output: (query_id, cand_id, adist, rank), rank 1 = smallest ADC."""
    cent = (
        candidates.select(F.col(cand_id).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    cent_vecs = [[float(x) for x in r["cv"]] for r in cent]
    cb_lit, subdim = _pq_codebooks(candidates, m, ks, cand_id, vec_col)
    c = spread(candidates).select(
        F.col(cand_id).alias("cand_id"),
        _best_cells(cent_vecs, F.col(vec_col), 1)[0].alias("__cell"),
        _pq_codes(cb_lit, subdim, m, ks, F.col(vec_col)).alias("__codes"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _pq_dtab(cb_lit, subdim, m, F.col(vec_col)).alias("__dtab"),
        F.explode(_best_cells(cent_vecs, F.col(vec_col), nprobe)).alias(
            "__cell"
        ),
    )
    scored = (
        c.join(F.broadcast(q), "__cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "adist", _pq_adist(F.col("__dtab"), F.col("__codes"), m)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "adist", "rank")
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.2,
    n_centroids: int | None = None,
    n_iters: int = 2,
    train_sample_pct: int | None = None,
    pair_budget: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering of embeddings + WITHIN-cluster
    cosine thresholding — cross-cluster pairs are never scored, so the
    quadratic term is bounded by the largest cluster, never the corpus.
    Deterministic keep-first rule: a document drops iff some LOWER-id
    document in its cluster is within the epsilon-ball (cosine >= eps);
    the paper keeps one representative per ball, lowest-id is the
    reproducible choice. Returns (id, cell, dropped).

    Scale shape: centroid training on a deterministic md5-bucket sample,
    map-side assignment against a literal centroid array (no shuffle),
    and a per-cell self-join for the pair scan. When `n_centroids` is
    unset it defaults to ~sqrt(n) CAPPED AT 16384 (min 4) — the cap is
    the honest ceiling of the literal-centroid-array design: centroids
    are collected to the driver and embedded in the plan, so ~16k ×
    dim floats is the most Catalyst should carry. Below the cap the
    expected cell size is ~sqrt(n) and total pair work ~n^1.5; beyond
    ~256M rows the auto default saturates at 16384 cells and the
    expected cell grows linearly — at that scale pass `pair_budget` so
    an over-quadratic cell fails fast, and shard the corpus (or move
    centroids out of the plan into a broadcast join) rather than trust
    the default. (The paper's 100k-cluster/5B-doc regime is beyond the
    plan-literal design; this implementation targets the sharded /
    ≤100M-embedding regime.) Pass an explicit `n_centroids` to pin the
    oracle-reproducible clustering. With `pair_budget` set, the largest
    cell's pair count is checked after assignment and a ValueError names
    the offending cell instead of launching an over-budget scan. The
    cell-assignment frame is persisted (memory-and-disk) so the budget
    check and the two self-join legs share one assignment pass; it stays
    cached until the caller's action completes and Spark evicts it."""
    if n_centroids is None:
        import math

        n_centroids = min(max(4, math.isqrt(df.count())), 16384)
    cent = train_kmeans_centroids(
        df, n_centroids, n_iters, id_col, vec_col, sample_pct=train_sample_pct
    )
    if not cent:
        # Empty input: no centroids can be trained; return an empty frame
        # with the documented schema instead of cent[0] IndexError.
        return df.select(
            F.col(id_col).alias("id"),
            F.lit(0).alias("cell"),
            F.lit(False).alias("dropped"),
        ).limit(0)
    from pyspark import StorageLevel

    # per-row norm computed once into the persisted assignment frame: the
    # within-cell pair scan divides the per-pair dot by __n_a * __n_b —
    # the same doubles in the same order as the per-pair cosine(), so the
    # epsilon-ball decisions are bit-identical
    cells = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
        _best_cells(cent, F.col(vec_col), 1)[0].alias("cell"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if pair_budget is not None:
        worst = (
            cells.groupBy("cell")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"))
            .first()
        )
        if worst is not None and worst["n"] * (worst["n"] - 1) // 2 > pair_budget:
            raise ValueError(
                f"semdedup cell {worst['cell']} holds {worst['n']} vectors "
                f"(~{worst['n'] * (worst['n'] - 1) // 2} pairs > "
                f"pair_budget={pair_budget}); raise n_centroids or re-train"
            )
    a = cells.select(
        F.col("id").alias("ida"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "cell"
    )
    b = cells.select(
        F.col("id").alias("idb"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "cell"
    )
    dropped_ids = (
        a.join(b, "cell")
        .filter(F.col("ida") < F.col("idb"))
        .filter(
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
            >= F.lit(eps)
        )
        .select(F.col("idb").alias("id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        cells.select("id", "cell")
        .join(dropped_ids, "id", "left")
        .select(
            "id", "cell",
            F.coalesce(F.col("__dropped"), F.lit(False)).alias("dropped"),
        )
    )
