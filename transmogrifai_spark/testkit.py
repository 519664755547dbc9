"""Testkit: seeded random typed-data generators (SURVEY.md §5 parity).

Re-expression of the reference's testkit
(testkit/src/main/scala/com/salesforce/op/testkit/ — RandomReal.scala:45,
RandomText.scala:49, RandomIntegral.scala:46, RandomBinary.scala:43,
RandomList.scala:46, RandomMap.scala:47, RandomVector.scala:47, with
null-injection via ProbabilityOfEmpty.scala and seeded infinite streams):
deterministic factories producing (DataFrame, features) fixtures for every
logical type, with controllable null probability — the TestFeatureBuilder
equivalent is ``build_dataframe``.
"""
from __future__ import annotations

import random
import string
from typing import Any, Callable

from pyspark.sql import SparkSession

from .feature import Feature, from_dataframe

_SPARK_TYPES = {
    "Real": "double", "RealNN": "double", "Currency": "double", "Percent": "double",
    "Integral": "bigint", "Date": "bigint", "DateTime": "bigint",
    "Binary": "boolean",
    "Text": "string", "Email": "string", "Phone": "string", "ID": "string",
    "URL": "string", "PickList": "string", "City": "string", "TextArea": "string",
    "TextList": "array<string>", "MultiPickList": "array<string>",
    "Geolocation": "array<double>", "OPVector": "array<double>",
    "TextMap": "map<string,string>", "RealMap": "map<string,double>",
    "IntegralMap": "map<string,bigint>", "BinaryMap": "map<string,boolean>",
}


class RandomData:
    """Seeded generator for one logical type (infinite via __call__)."""

    def __init__(self, type_name: str, gen: Callable[[random.Random], Any],
                 prob_empty: float = 0.0, seed: int = 42):
        self.type_name = type_name
        self._gen = gen
        self.prob_empty = prob_empty
        self._rng = random.Random(seed)

    def take(self, n: int) -> list:
        out = []
        for _ in range(n):
            if self.prob_empty and self._rng.random() < self.prob_empty:
                out.append(None)
            else:
                out.append(self._gen(self._rng))
        return out


def random_real(min_v=0.0, max_v=100.0, prob_empty=0.0, seed=42,
                distribution: str = "uniform") -> RandomData:
    """RandomReal.scala:45 — uniform/normal/poisson-ish distributions."""
    if distribution == "uniform":
        gen = lambda r: r.uniform(min_v, max_v)
    elif distribution == "normal":
        mu, sigma = (min_v + max_v) / 2, (max_v - min_v) / 6 or 1.0
        gen = lambda r: r.gauss(mu, sigma)
    else:
        raise ValueError(f"unknown distribution {distribution!r}")
    return RandomData("Real", gen, prob_empty, seed)


def random_integral(min_v=0, max_v=1000, prob_empty=0.0, seed=42) -> RandomData:
    return RandomData("Integral", lambda r: r.randint(min_v, max_v), prob_empty, seed)


def random_binary(prob_true=0.5, prob_empty=0.0, seed=42) -> RandomData:
    return RandomData("Binary", lambda r: r.random() < prob_true, prob_empty, seed)


def random_text(n_words=5, vocab=None, prob_empty=0.0, seed=42) -> RandomData:
    vocab = vocab or ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
                      "eta", "theta", "iota", "kappa"]
    return RandomData("Text", lambda r: " ".join(r.choice(vocab) for _ in range(n_words)),
                      prob_empty, seed)


def random_picklist(domain=("a", "b", "c"), prob_empty=0.0, seed=42) -> RandomData:
    return RandomData("PickList", lambda r: r.choice(list(domain)), prob_empty, seed)


def random_email(prob_empty=0.0, seed=42) -> RandomData:
    def gen(r):
        user = "".join(r.choice(string.ascii_lowercase) for _ in range(8))
        return f"{user}@{r.choice(['example.com', 'corp.io', 'mail.net'])}"
    return RandomData("Email", gen, prob_empty, seed)


def random_multipicklist(domain=("x", "y", "z"), max_len=3, prob_empty=0.0, seed=42) -> RandomData:
    def gen(r):
        k = r.randint(0, max_len)
        return sorted(r.sample(list(domain), min(k, len(domain))))
    return RandomData("MultiPickList", gen, prob_empty, seed)


def random_map(keys=("a", "b", "c"), value: RandomData | None = None,
               prob_empty=0.0, seed=42) -> RandomData:
    value = value or random_real(seed=seed + 7)
    type_name = {"Real": "RealMap", "Integral": "IntegralMap",
                 "Binary": "BinaryMap"}.get(value.type_name, "TextMap")

    def gen(r):
        present = [k for k in keys if r.random() < 0.7]
        vals = value.take(len(present))
        return {k: v for k, v in zip(present, vals) if v is not None}
    return RandomData(type_name, gen, prob_empty, seed)


def random_vector(dim=8, prob_empty=0.0, seed=42) -> RandomData:
    return RandomData("OPVector", lambda r: [r.uniform(-1, 1) for _ in range(dim)],
                      prob_empty, seed)


def random_geolocation(prob_empty=0.0, seed=42) -> RandomData:
    return RandomData("Geolocation",
                      lambda r: [r.uniform(-90, 90), r.uniform(-180, 180),
                                 float(r.randint(1, 10))],
                      prob_empty, seed)


def build_dataframe(spark: SparkSession, n: int,
                    columns: dict[str, RandomData],
                    response: str | None = None) -> tuple:
    """TestFeatureBuilder equivalent: (DataFrame, {name: Feature})."""
    data = {name: gen.take(n) for name, gen in columns.items()}
    rows = [tuple(data[name][i] for name in columns) for i in range(n)]
    schema = ", ".join(f"{name} {_SPARK_TYPES[gen.type_name]}"
                       for name, gen in columns.items())
    df = spark.createDataFrame(rows, schema)
    overrides = {name: gen.type_name for name, gen in columns.items()}
    return df, from_dataframe(df, response=response, overrides=overrides)
