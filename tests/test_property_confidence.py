"""Property parity for F14 confidence scoring and F15 cost estimation:
the Spark expressions must agree with the pure-Python oracle on
generated records (value-in-text bonuses, sentinel zeros, clamping) and
on random token counts across the pricing table."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from insurance_pdf_extractor_spark import oracle
from insurance_pdf_extractor_spark.constants import EMPTY_VALUE, FIELD_NAMES, MODEL_PRICING
from insurance_pdf_extractor_spark.functions.confidence import (
    confidence_map_expr,
    estimated_cost_expr,
)
from insurance_pdf_extractor_spark.operators.fields import DOC_TEXT

_val = st.one_of(
    st.just(EMPTY_VALUE),
    st.just("ab"),                      # len<3 penalty
    st.just("WC-1234567"),              # len>5 bonus
    st.just("01/02/2024"),              # date with '/'
    st.just("2024-01-02"),              # date without '/'
    st.text(alphabet="abcXYZ 0123456789$,.-", min_size=1, max_size=12),
)


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_confidence_map_parity(spark, data):
    rng = random.Random(data.draw(st.integers(0, 2**31)))
    rows = []
    for i in range(8):
        rec = {}
        for f in FIELD_NAMES:
            if f == "issuing_carrier":
                rec[f] = [] if rng.random() < 0.4 else [data.draw(_val)]
            else:
                rec[f] = data.draw(_val)
        # response text contains SOME of the values (drives the
        # substring bonus both ways)
        present = [str(v) for v in rec.values() if rng.random() < 0.5 and v not in (EMPTY_VALUE, [])]
        text = " | ".join(["Quote document header"] + present)
        rows.append((i, text, rec))

    # explicit schema: when every row draws an empty carrier list,
    # inference cannot type that column
    schema = T.StructType(
        [T.StructField("i", T.LongType()), T.StructField(DOC_TEXT, T.StringType())]
        + [
            T.StructField(f, T.ArrayType(T.StringType()) if f == "issuing_carrier" else T.StringType())
            for f in FIELD_NAMES
        ]
    )
    df = spark.createDataFrame(
        [
            tuple([i, text] + [rec[f] for f in FIELD_NAMES])
            for i, text, rec in rows
        ],
        schema,
    )
    got = {r["i"]: r["m"] for r in df.select("i", confidence_map_expr(F.col(DOC_TEXT)).alias("m")).collect()}

    for i, text, rec in rows:
        # oracle stringifies lists like Python str(list) — mirror the
        # expression's contract for the carrier field
        orec = dict(rec)
        if orec["issuing_carrier"] == []:
            orec["issuing_carrier"] = EMPTY_VALUE
        else:
            orec["issuing_carrier"] = "['" + "', '".join(orec["issuing_carrier"]) + "']"
        exp = oracle.confidence_scores(orec, text)
        for f in FIELD_NAMES:
            assert abs(got[i][f] - exp[f]) < 1e-9, (f, rec[f], got[i][f], exp[f])


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 10**6), st.integers(0, 10**6)), min_size=1, max_size=20),
    st.sampled_from(sorted(MODEL_PRICING) + ["gemini-1.5-flash-8b-exp", "unknown-model"]),
)
def test_estimated_cost_parity(spark, toks, model):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(toks)], "i long, it long, ot long"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", estimated_cost_expr(F.col("it"), F.col("ot"), model).alias("c")
        ).collect()
    }
    for i, (a, b) in enumerate(toks):
        exp = oracle.estimate_cost(a, b, model, MODEL_PRICING)
        # exact-decimal-half values (e.g. 619846 tok -> 0.7748075) round
        # differently: Python rounds the true binary value, Java's
        # BigDecimal.valueOf rounds the shortest decimal repr. One ulp
        # of the 6th decimal is the irreducible cross-runtime gap.
        assert abs(got[i] - exp) <= 1.0000001e-6, (a, b, model)
