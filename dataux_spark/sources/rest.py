"""REST/JSON-endpoint source — the Kubernetes/Lytics backend pattern.

Reference: the kube backend exposes fixed REST endpoints (pods, nodes,
services) as tables (/root/reference/backends/_kube/source.go:34,233-280);
lytics scans a REST entity API (backends/lytics/resultreader.go:53-128).
Both are scan-only backends: the engine polyfills every relational operator
on top (SCAN_ONLY tier).

Spark-first: fetch JSON (http(s):// or file:// for tests), infer the schema
by sampling (infer.py — same sampled inference the document stores use),
and materialize a DataFrame. Endpoint payloads are small control-plane
listings (pods, segments), so driver-side fetch + createDataFrame is the
right shape; a paginated big-data REST API would instead be a mapInPandas
fetcher over a partitioned key range.
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import DataFrame, SparkSession

from dataux_spark.infer import infer_from_documents
from dataux_spark.sources.base import PushdownTier, Source


def _fetch_json(url: str):
    with urllib.request.urlopen(url) as resp:  # supports file:// and http(s)://
        payload = json.load(resp)
    if isinstance(payload, dict):
        # k8s-style list responses: {"items": [...]}
        for key in ("items", "data", "results", "rows"):
            if key in payload and isinstance(payload[key], list):
                return payload[key]
        return [payload]
    return payload


def _flatten(doc: dict, prefix: str = "") -> dict:
    """Flatten nested objects to dotted keys (matches the reference's
    nested-document column naming, SURVEY §1.2)."""
    out = {}
    for k, v in doc.items():
        key = f"{prefix}{k}"
        if isinstance(v, dict):
            out.update(_flatten(v, f"{key}."))
        else:
            out[key] = v
    return out


def fetch_docs(url: str) -> list:
    """Fetch a collection with every document's nested objects flattened."""
    return [_flatten(d) if isinstance(d, dict) else d for d in _fetch_json(url)]


class RestJsonSource(Source):
    """name → {table: url} endpoints, each a JSON list (or {items: [...]})."""

    tier = PushdownTier.SCAN_ONLY
    default_limit = 5000

    def __init__(self, name: str, endpoints: dict[str, str], flatten: bool = True):
        self.name = name
        self.endpoints = dict(endpoints)
        self.flatten = flatten
        self._cache: dict[str, list[dict]] = {}

    def tables(self) -> list[str]:
        return list(self.endpoints)

    def _docs(self, table: str) -> list[dict]:
        if table not in self._cache:
            url = self.endpoints[table]
            self._cache[table] = fetch_docs(url) if self.flatten else _fetch_json(url)
        return self._cache[table]

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        if table not in self.endpoints:
            raise KeyError(f"unknown table {table!r} in source {self.name!r}")
        docs = self._docs(table)
        schema = infer_from_documents(docs, sample_n=len(docs) or 1)
        # backtick-quote dotted names via Row dicts → createDataFrame
        cols = [f.name for f in schema.fields]
        rows = [tuple(d.get(c) for c in cols) for d in docs]
        return spark.createDataFrame(rows, schema)
