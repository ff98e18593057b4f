"""Tests for `datapipe/similarity.py` internals:

- parsed-expression double literals (`_lit_d1`/`_lit_d2`, `_d_tok`) are
  bit-identical to the per-element F.lit construction, and non-finite
  values (including a PQ codebook seeded with them) survive parsing;
- `_best_cells` ranks identically to a direct cosine argmax;
- the PQ code assignment and the per-query ADC distance table reproduce
  their direct recomputations exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_lit_helpers_bit_identical_to_per_element_lits(spark):
    from flink_parent_spark.datapipe.similarity import _lit_d1, _lit_d2

    vals = [0.1, -0.0, 1.5e-9, 123456.789, 2.0 / 3.0, 1e16, -7.25e-200]
    rows = [vals, [x * 3.0 for x in vals]]
    df = spark.range(1).select(
        _lit_d1(vals).alias("a"),
        F.array(*[F.lit(float(v)) for v in vals]).alias("a_ref"),
        _lit_d2(rows).alias("b"),
        F.array(
            *[F.array(*[F.lit(float(v)) for v in r]) for r in rows]
        ).alias("b_ref"),
    )
    r = df.first()
    # struct-pack to compare exact bits, not repr
    import struct

    def bits(x):
        return struct.pack("<d", x)

    assert [bits(v) for v in r["a"]] == [bits(v) for v in r["a_ref"]]
    assert [[bits(v) for v in row] for row in r["b"]] == [
        [bits(v) for v in row] for row in r["b_ref"]
    ]
    # empty array keeps the declared element type
    assert dict(spark.range(1).select(_lit_d1([]).alias("e")).dtypes)["e"] == (
        "array<double>"
    )


def test_lit_d_nonfinite_literals(spark):
    """repr(nan) renders 'nanD' which Spark cannot resolve; non-finite
    values must round-trip through double() casts instead."""
    from flink_parent_spark.datapipe.similarity import (
        _lit_d1,
        _lit_d2,
        _pq_codebooks,
    )

    nan, inf = float("nan"), float("inf")
    row = spark.range(1).select(
        _lit_d1([1.5, nan, inf, -inf]).alias("a"),
        _lit_d2([[nan, 2.0], [-inf, 0.25]]).alias("b"),
    ).collect()[0]
    assert row["a"][0] == 1.5
    assert math.isnan(row["a"][1])
    assert row["a"][2] == inf and row["a"][3] == -inf
    assert math.isnan(row["b"][0][0]) and row["b"][0][1] == 2.0
    assert row["b"][1][0] == -inf and row["b"][1][1] == 0.25

    # a PQ codebook seeded from candidates carrying non-finite components
    cands = spark.createDataFrame(
        [(1, [nan, 1.0, inf, -inf]), (2, [0.5, -0.5, 2.0, 3.0])],
        "vec_id int, embedding array<double>",
    )
    cb_lit, subdim = _pq_codebooks(cands, 2, 2, "vec_id", "embedding")
    cb = spark.range(1).select(cb_lit.alias("cb")).collect()[0]["cb"]
    assert subdim == 2
    assert math.isnan(cb[0][0][0]) and cb[0][0][1] == 1.0
    assert cb[1][0] == [inf, -inf]
    assert cb[0][1] == [0.5, -0.5] and cb[1][1] == [2.0, 3.0]


def test_lit_d_finite_bit_identical_to_flit(spark):
    """The finite path is unchanged: parsed literal == F.lit bit-for-bit."""
    from flink_parent_spark.datapipe.similarity import _lit_d1

    vals = [0.1, 1 / 3, 2.5e-17, -7.25]
    row = spark.range(1).select(
        _lit_d1(vals).alias("p"),
        F.array(*[F.lit(v) for v in vals]).alias("l"),
    ).collect()[0]
    assert row["p"] == row["l"]


def test_best_cells_matches_direct_cosine_argmax(spark):
    from flink_parent_spark.datapipe.similarity import (
        _best_cells,
        _seq_norm,
        cosine,
    )

    cent = [
        [1.0, 0.25, -0.5, 2.0],
        [0.0, 1.0, 1.0, -1.0],
        [3.5, -0.125, 0.75, 0.5],
    ]
    # _seq_norm is the driver-side twin of norm(): same sequential fold
    for cv in cent:
        acc = 0.0
        for x in cv:
            acc += x * x
        assert _seq_norm(cv) == math.sqrt(acc)

    df = spark.range(0, 200).select(
        F.col("id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double") - 2.0,
            (F.col("id") % 3).cast("double") * 1.5,
            F.lit(1.0),
        ).alias("v"),
    )
    got = df.select(
        "id", _best_cells(cent, F.col("v"), 2).alias("cells")
    ).collect()
    # reference ranking via the plain per-centroid cosine (no precomputed
    # centroid norms)
    cent_arr = F.array(*[F.array(*[F.lit(float(x)) for x in cv]) for cv in cent])
    scored = F.zip_with(
        F.transform(cent_arr, lambda cv: cosine(cv, F.col("v"))),
        F.sequence(F.lit(0), F.lit(len(cent) - 1)),
        lambda c, i: F.struct((-c).alias("negc"), i.alias("cell")),
    )
    ref = df.select(
        "id",
        F.transform(
            F.slice(F.sort_array(scored), 1, 2), lambda s: s["cell"]
        ).alias("cells"),
    ).collect()
    assert {r["id"]: list(r["cells"]) for r in got} == {
        r["id"]: list(r["cells"]) for r in ref
    }


def test_pq_codes_subvector_bound_once(spark):
    """_pq_codes binds the query subvector slice as a lambda variable; the
    codes must be unchanged vs a direct argmin recomputation."""
    from flink_parent_spark.datapipe.similarity import _pq_codes

    from pyspark.sql import functions as F

    cb = [
        [[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]],
        [[0.0, 1.0], [5.0, 5.0], [1.0, 0.0]],
    ]
    cb_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(
                "array(" + ",".join(f"{v!r}D" for v in code) + ")" for code in cbj
            ) + ")"
            for cbj in cb
        )
        + ")"
    )
    vecs = [
        (1, [0.1, 0.1, 4.9, 5.1]),
        (2, [2.1, 1.9, 0.9, 0.05]),
        (3, [1.0, 1.2, 0.1, 0.9]),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    got = {
        r["vec_id"]: r["codes"]
        for r in df.select(
            "vec_id", _pq_codes(cb_lit, 2, 2, 3, F.col("embedding")).alias("codes")
        ).collect()
    }

    def argmin(sub, cbj):
        ds = [sum((float(x) - c) ** 2 for x, c in zip(sub, code)) for code in cbj]
        return ds.index(min(ds))

    want = {
        vid: [argmin(v[0:2], cb[0]), argmin(v[2:4], cb[1])] for vid, v in vecs
    }
    assert got == want


def test_pq_adist_table_bit_identical(spark):
    """The per-query ADC table must reproduce the per-pair fold's values
    exactly (same doubles, same left-to-right subspace sum)."""
    from pyspark.sql import functions as F

    from flink_parent_spark.datapipe.similarity import (
        _pq_adist,
        _pq_dtab,
        _pq_sub,
        sqdist,
    )

    cb = [
        [[0.1, -0.2], [1.5, 2.5], [-3.0, 0.25]],
        [[2.0, 0.0], [0.3, -0.7], [1.0, 1.0]],
    ]
    cb_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(
                "array(" + ",".join(f"{v!r}D" for v in code) + ")" for code in cbj
            ) + ")"
            for cbj in cb
        )
        + ")"
    )
    df = spark.createDataFrame(
        [(1, [0.11, 0.33, 0.77, -0.2], [0, 1]), (2, [1.4, 2.4, 1.1, 0.9], [1, 2])],
        "vec_id int, embedding array<float>, codes array<int>",
    )
    # old per-pair fold, reconstructed
    old = None
    for j in range(2):
        term = sqdist(
            _pq_sub(F.col("embedding"), j, 2),
            F.element_at(cb_lit[j], F.col("codes")[j] + 1),
        )
        old = term if old is None else old + term
    out = df.select(
        old.alias("a_old"),
        _pq_adist(
            _pq_dtab(cb_lit, 2, 2, F.col("embedding")), F.col("codes"), 2
        ).alias("a_new"),
    ).selectExpr("sum(CASE WHEN a_old IS DISTINCT FROM a_new THEN 1 ELSE 0 END) AS d")
    assert out.collect()[0]["d"] == 0  # bitwise equality, not epsilon
