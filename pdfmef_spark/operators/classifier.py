"""Broadcast-model document classifier gate.

Spark-first re-expression of the reference's trained filter stage
(AcademicPaperFilter, src/extractor/csxextract/filters.py:9-48: a jar'd
binary classifier scores every document before any expensive extractor
runs). Here the model is a tiny logistic regression trained once,
deterministically, on a synthetic labeled set (pure function of the
seed), and scored two interchangeable ways:

* `score_expr(text_col)` — the linear model inlined as a JVM Column
  expression (whole-stage codegen, zero Python). Right whenever the
  model is linear over SQL-expressible features.
* `score_udf()` — a vectorized pandas_udf whose closure carries the
  weight vector (pickled once per executor — the broadcast-model
  scoring shape that generalizes to any sklearn-style model object).
  Pinned equal to the expression path by test.

Features are the same closed-form text statistics the quality score
uses (SQL-parity proven by the doc_quality_lang oracle), so the whole
gate restates exactly in the DuckDB oracle with the trained weights as
literals.
"""

from __future__ import annotations

import functools
import random
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from pdfmef_spark.functions.zipimports import install_stable_zip_importers
from pdfmef_spark.operators.textstats import _LANG_MARKERS, token_count

_SEED = 42
N_FEATURES = 4  # + bias


# ---------------------------------------------------------------------------
# Features — three parity implementations (Column / python / SQL)
# ---------------------------------------------------------------------------

def feature_cols(text_col: Column) -> list[Column]:
    """[f_len, f_alpha, f_stop, f_punct] as JVM expressions."""
    chars = F.length(text_col).cast("double")
    toks = token_count(text_col).cast("double")
    terms = F.length(F.regexp_replace(text_col, r"[^.!?]", "")).cast("double")
    alpha = F.length(F.regexp_replace(text_col, r"[^A-Za-zÀ-ɏ一-鿿]", "")).cast("double")
    votes = F.size(
        F.array_intersect(
            F.split(F.lower(text_col), r"\s+"),
            F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]]),
        )
    ).cast("double")
    return [
        F.least(toks / 400.0, F.lit(1.0)),
        alpha / F.greatest(chars, F.lit(1.0)),
        votes / 7.0,
        F.least(terms / F.greatest(toks / 30.0, F.lit(1.0)), F.lit(1.0)),
    ]


def py_features(text: str) -> list[float]:
    """Same four features in pure python (training + the UDF path)."""
    chars = len(text)
    toks = len(re.split(r"\s+", text.strip()))
    terms = sum(text.count(c) for c in ".!?")
    alpha = len(re.findall(r"[A-Za-zÀ-ɏ一-鿿]", text))
    low = set(re.split(r"\s+", text.lower()))
    votes = sum(1 for w in _LANG_MARKERS["en"] if w in low)
    return [
        min(toks / 400.0, 1.0),
        alpha / max(chars, 1),
        votes / 7.0,
        min(terms / max(toks / 30.0, 1.0), 1.0),
    ]


def feature_sql_exprs() -> list[str]:
    """Same four features as DuckDB SQL expression strings over `text`."""
    votes = " + ".join(
        f"(list_contains(regexp_split_to_array(lower(text), '\\s+'), '{w}'))::INT"
        for w in _LANG_MARKERS["en"]
    )
    toks = "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)"
    return [
        f"least({toks} / 400.0, 1.0)",
        "CAST(len(regexp_replace(text, '[^A-Za-zÀ-ɏ一-鿿]', '', 'g')) AS DOUBLE)"
        " / greatest(CAST(len(text) AS DOUBLE), 1.0)",
        f"CAST({votes} AS DOUBLE) / 7.0",
        f"least(CAST(len(regexp_replace(text, '[^.!?]', '', 'g')) AS DOUBLE)"
        f" / greatest({toks} / 30.0, 1.0), 1.0)",
    ]


# ---------------------------------------------------------------------------
# Deterministic synthetic training set + logistic regression
# ---------------------------------------------------------------------------

def training_rows(n: int = 800, seed: str = f"{_SEED}-clf") -> list[tuple[str, int]]:
    """(text, label) pairs: label 1 = content-like english prose, label 0 =
    junk (symbol runs, scrambles, fragments) — the web analog of the
    reference's academic-vs-not gate."""
    from pdfmef_spark import corpus as C

    rng = random.Random(seed)
    rows: list[tuple[str, int]] = []
    for i in range(n):
        if i % 2 == 0:
            sents = []
            for _ in range(rng.randint(3, 10)):
                words = [rng.choice(C._FILLER) for _ in range(rng.randint(5, 12))]
                # guarantee stopword presence like real prose
                words.insert(rng.randrange(len(words)), rng.choice(_LANG_MARKERS["en"]))
                s = " ".join(words)
                sents.append(s[0].upper() + s[1:] + rng.choice(".!?"))
            rows.append((" ".join(sents), 1))
        else:
            kind = rng.randrange(3)
            if kind == 0:  # symbol soup
                rows.append((" ".join("~#*%$" for _ in range(rng.randint(5, 40))), 0))
            elif kind == 1:  # letter scramble, no structure
                rows.append((" ".join(
                    "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(rng.randint(4, 12)))
                    for _ in range(rng.randint(3, 30))
                ), 0))
            else:  # tiny fragment
                rows.append((" ".join(rng.choice(C._FILLER) for _ in range(rng.randint(1, 3))), 0))
    return rows


@functools.lru_cache(maxsize=1)
def trained_weights() -> tuple[tuple[float, ...], float]:
    """(weights, bias) of the gate model — deterministic, cached.

    Plain full-batch gradient descent, fixed iterations: the same
    weights on every machine and run, so the DuckDB oracle can inline
    them as literals."""
    rows = training_rows()
    x = np.array([py_features(t) for t, _ in rows], dtype=np.float64)
    y = np.array([lbl for _, lbl in rows], dtype=np.float64)
    w = np.zeros(N_FEATURES)
    b = 0.0
    lr = 2.0
    for _ in range(400):
        z = x @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (x.T @ g) / len(y)
        b -= lr * g.mean()
    return tuple(round(float(v), 12) for v in w), round(float(b), 12)


# ---------------------------------------------------------------------------
# Scoring paths
# ---------------------------------------------------------------------------

def score_expr(text_col: Column) -> Column:
    """P(content) as a pure JVM expression (codegen, zero Python)."""
    w, b = trained_weights()
    z = F.lit(float(b))
    for wi, f in zip(w, feature_cols(text_col)):
        z = z + F.lit(float(wi)) * f
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_udf():
    """P(content) as a vectorized pandas_udf — the broadcast-model shape
    (weights travel in the closure; swap in any pickled model here)."""
    w, b = trained_weights()
    wv = np.array(w, dtype=np.float64)

    @F.pandas_udf(T.DoubleType())
    def score(texts: pd.Series) -> pd.Series:
        install_stable_zip_importers()
        x = np.array([py_features(t or "") for t in texts], dtype=np.float64)
        return pd.Series(1.0 / (1.0 + np.exp(-(x @ wv + b))))

    return score


def classifier_gate(docs, text_col: str = "text", threshold: float = 0.5,
                    use_udf: bool = False):
    """docs + (clf_prob, clf_pass) — filter-gate like the reference's
    AcademicPaperFilter (score first, run expensive stages on survivors)."""
    prob = (score_udf()(F.col(text_col)) if use_udf else score_expr(F.col(text_col)))
    out = docs.withColumn("clf_prob", prob)
    return out.withColumn("clf_pass", F.col("clf_prob") >= threshold)


def gate_oracle_sql() -> str:
    """DuckDB restatement of the full gate with the trained weights as
    literals — generated from the same feature strings, no drift."""
    w, b = trained_weights()
    fs = feature_sql_exprs()
    z = " + ".join(f"({wi!r}) * ({f})" for wi, f in zip(w, fs))
    return f"""
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(({b!r}) + {z}))), 4) AS clf_prob,
           (({b!r}) + {z}) >= 0 AS clf_pass
    FROM documents
    ORDER BY doc_id
    """
