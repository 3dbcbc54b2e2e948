"""Seeded inputs for the three workloads, their closed-form verdicts, and the
on-disk cache they live in.

- Corpus tables (``corpus_batch``, ``shard_gate``) come from the engine's own
  generator, ``sources.corpus.corpus``. Its violations are injected by row-id
  modulus, so every verdict count has a closed form that does not depend on
  the seed; the seed moves token values, lengths and sources.
- JSON documents (``json_router``) come from ``json_docs`` below: pure Python
  (``random.Random(seed)``), written with pyarrow, so generating them never
  touches Spark. Every invalid document carries exactly one injected defect,
  and the generator tallies them by kind.

Inputs are cached under the work directory keyed by (kind, size, seed), each
written with an explicit file count so the scan's task count never depends
on the session that wrote it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from jsonschema_spark.sources.corpus import (
    LEN_MOD,
    NTOK_MOD,
    SRC_MOD,
    expected_violation_counts,
)

CORPUS_FILES = 8
JSON_FILES = 16
CACHE_KEEP = 32  # newest cached inputs kept; older ones are deleted


# ---- corpus closed forms -------------------------------------------------------
#
# Row i of ``corpus`` carries a defect when i % m == m - 1 for its modulus m
# (jsonschema_spark.sources.corpus). Counting such rows in [start, stop) is
# counting multiples of m among i + 1, i.e. stop // m - start // m; the moduli
# are distinct primes, so a row hit by several has (i + 1) divisible by their
# product.


def _hits(start: int, stop: int, *mods: int) -> int:
    p = 1
    for m in mods:
        p *= m
    return stop // p - start // p


def expected_shard_fails(start: int, stop: int) -> dict:
    """Per-check fail counts of corpus rows [start, stop) under
    ``benchlib.CORPUS_SPEC_DICT``, plus ``_invalid`` (rows failing any check).
    Checks not listed never fail."""
    a, b, c = NTOK_MOD, LEN_MOD, SRC_MOD
    ntok, length, src = _hits(start, stop, a), _hits(start, stop, b), _hits(start, stop, c)
    return {
        # n_tok of 0 or 4096 breaks its bounds and n_tok = size(tokens) too
        "col_n_tok": ntok,
        "row_len_consistent": ntok + length - _hits(start, stop, a, b),
        "ref_source": src,
        "_invalid": ntok + length + src
        - _hits(start, stop, a, b) - _hits(start, stop, a, c) - _hits(start, stop, b, c)
        + _hits(start, stop, a, b, c),
    }


def expected_corpus(n_rows: int) -> dict:
    """Closed-form ``ValidationJob.run`` summary numbers for an ``n_rows``
    corpus (at 1M rows: n_invalid 7517, duplicates 2004, orphans 2881)."""
    counts = expected_violation_counts(n_rows)
    return {
        "n_rows": n_rows,
        "n_invalid": expected_shard_fails(0, n_rows)["_invalid"],
        "duplicates": counts["dup_doc_id"],
        "orphans": counts["bad_source"],
    }


# ---- JSON documents --------------------------------------------------------------

# Shaped like the reference's _bench families: nested objects, arrays of
# $ref'd items, enum, pattern, oneOf, additionalProperties: false and bounded
# numbers.
JSON_SCHEMA = {
    "type": "object",
    "required": ["id", "kind", "amount", "owner", "items", "payment"],
    "additionalProperties": False,
    "properties": {
        "id": {"type": "string", "pattern": "^evt-[0-9a-f]{8}$"},
        "kind": {"enum": ["order", "refund", "transfer", "audit"]},
        "amount": {
            "type": "number", "minimum": 0, "maximum": 1000000,
            "exclusiveMaximum": True,
        },
        "owner": {"$ref": "#/definitions/party"},
        "items": {
            "type": "array", "minItems": 1, "maxItems": 64,
            "items": {"$ref": "#/definitions/item"},
        },
        "meta": {
            "type": "object",
            "properties": {
                "tags": {
                    "type": "array", "maxItems": 16,
                    "items": {"type": "string", "maxLength": 32},
                },
            },
            "additionalProperties": {"type": "string", "maxLength": 256},
        },
        "payment": {
            "oneOf": [{"$ref": "#/definitions/card"}, {"$ref": "#/definitions/iban"}]
        },
    },
    "definitions": {
        "party": {
            "type": "object",
            "required": ["name", "country"],
            "additionalProperties": False,
            "properties": {
                "name": {"type": "string", "minLength": 1, "maxLength": 64},
                "country": {"type": "string", "pattern": "^[A-Z]{2}$"},
            },
        },
        "item": {
            "type": "object",
            "required": ["sku", "qty", "price"],
            "additionalProperties": False,
            "properties": {
                "sku": {"type": "string", "pattern": "^[A-Z]{3}-[0-9]{4}$"},
                "qty": {"type": "integer", "minimum": 1, "maximum": 1000},
                "price": {"type": "number", "minimum": 0},
                "note": {"type": "string", "maxLength": 200},
            },
        },
        "card": {
            "type": "object",
            "required": ["card_last4"],
            "additionalProperties": False,
            "properties": {"card_last4": {"type": "string", "pattern": "^[0-9]{4}$"}},
        },
        "iban": {
            "type": "object",
            "required": ["iban"],
            "additionalProperties": False,
            "properties": {
                "iban": {"type": "string", "pattern": "^[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}$"}
            },
        },
    },
}

INVALID_RATE = 0.02
DEFECTS = (
    "malformed", "enum", "pattern", "additional", "bounds", "one_of",
    "required", "type",
)
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_WORDS = (
    "alpha", "bravo", "delta", "gamma", "kilo", "lima", "oscar", "sierra",
    "tango", "zulu", "priority", "backorder", "gift", "fragile", "bulk",
)


def _item(rng: random.Random) -> dict:
    item = {
        "sku": "".join(rng.choices(_UPPER, k=3)) + f"-{rng.randrange(10000):04d}",
        "qty": rng.randint(1, 1000),
        "price": round(rng.uniform(0, 5000), 2),
    }
    if rng.random() < 0.6:
        item["note"] = " ".join(rng.choices(_WORDS, k=rng.randint(2, 20)))
    return item


def _doc(rng: random.Random) -> dict:
    # item count is power-skewed (u^3): most documents are a few hundred
    # bytes, the tail runs to ~8 KB at 64 items
    n_items = 1 + int(63 * rng.random() ** 3)
    if rng.random() < 0.5:
        payment = {"card_last4": f"{rng.randrange(10000):04d}"}
    else:
        payment = {
            "iban": "".join(rng.choices(_UPPER, k=2)) + f"{rng.randrange(100):02d}"
            + "".join(rng.choices(_UPPER + "0123456789", k=rng.randint(10, 30)))
        }
    return {
        "id": f"evt-{rng.getrandbits(32):08x}",
        "kind": rng.choice(["order", "refund", "transfer", "audit"]),
        "amount": round(rng.uniform(0, 999999), 2),
        "owner": {
            "name": " ".join(rng.choices(_WORDS, k=2)),
            "country": "".join(rng.choices(_UPPER, k=2)),
        },
        "items": [_item(rng) for _ in range(n_items)],
        "meta": {
            "tags": rng.sample(_WORDS, k=rng.randint(0, 4)),
            "channel": rng.choice(["web", "pos", "api"]),
        },
        "payment": payment,
    }


def _inject(rng: random.Random, doc: dict, defect: str) -> str:
    """Text of ``doc`` with exactly one ``defect`` that the schema rejects."""
    if defect == "enum":
        doc["kind"] = "chargeback"
    elif defect == "pattern":
        rng.choice(doc["items"])["sku"] = "sku_" + str(rng.randrange(1000))
    elif defect == "additional":
        doc["debug"] = True
    elif defect == "bounds":
        rng.choice(doc["items"])["qty"] = rng.choice([0, 1001])
    elif defect == "one_of":
        doc["payment"] = {}  # matches neither branch
    elif defect == "required":
        del doc["owner"]["country"]
    elif defect == "type":
        doc["amount"] = str(doc["amount"])
    text = json.dumps(doc, separators=(",", ":"))
    if defect == "malformed":
        # a proper prefix of a JSON object is never complete JSON
        text = text[: rng.randrange(1, len(text))]
    return text


def json_docs(n_docs: int, seed: int) -> tuple[list, dict]:
    """``n_docs`` JSON texts and the tally of injected defects by kind."""
    rng = random.Random(seed)
    docs, tally = [], dict.fromkeys(DEFECTS, 0)
    for _ in range(n_docs):
        doc = _doc(rng)
        if rng.random() < INVALID_RATE:
            defect = rng.choice(DEFECTS)
            tally[defect] += 1
            docs.append(_inject(rng, doc, defect))
        else:
            docs.append(json.dumps(doc, separators=(",", ":")))
    return docs, tally


# ---- cache -----------------------------------------------------------------------


class Cache:
    """Generated inputs under ``root``, one directory per key. A directory is
    complete once its ``_READY`` marker exists; the marker holds the meta
    (generation seconds, tallies) that the build returned."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, key: str, build) -> tuple[str, dict]:
        """(path, meta) of input ``key``, built with ``build(path) -> dict``
        when absent. ``meta["gen_s"]`` is the build time, ``meta["cached"]``
        whether this call found it ready."""
        path = os.path.join(self.root, key)
        marker = os.path.join(path, "_READY")
        if os.path.exists(marker):
            os.utime(marker)
            with open(marker) as fh:
                return path, dict(json.load(fh), cached=True)
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        meta = build(path) or {}
        meta["gen_s"] = time.perf_counter() - t0
        with open(marker, "w") as fh:
            json.dump(meta, fh)
        self._evict(keep=key)
        return path, dict(meta, cached=False)

    def _evict(self, keep: str) -> None:
        ready = []
        for name in os.listdir(self.root):
            marker = os.path.join(self.root, name, "_READY")
            if name != keep and os.path.exists(marker):
                ready.append((os.path.getmtime(marker), name))
        for _, name in sorted(ready, reverse=True)[CACHE_KEEP - 1:]:
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)


def corpus_table(spark, cache: Cache, n_rows: int, seed: int) -> tuple[str, dict]:
    from jsonschema_spark.sources.corpus import corpus

    def build(path):
        # one file per spark.range partition: no shuffle on the way out
        corpus(spark, n_rows, seed=seed, num_partitions=CORPUS_FILES).write.parquet(path)

    return cache.get(f"corpus_n{n_rows}_s{seed}", build)


def shard_tables(
    spark, cache: Cache, n_shards: int, shard_rows: int, seed: int
) -> tuple[list, dict]:
    """``n_shards`` parquet directories of one file each; shard k holds the
    corpus rows [k * shard_rows, (k + 1) * shard_rows). ``spark.range`` over
    ``n_shards`` partitions splits the ids into exactly those ranges, and the
    corpus projection keeps rows in their range partition."""
    from pyspark.sql import functions as F

    from jsonschema_spark.sources.corpus import corpus

    def build(path):
        (
            corpus(spark, n_shards * shard_rows, seed=seed, num_partitions=n_shards)
            .withColumn("shard", F.spark_partition_id())
            .write.partitionBy("shard")
            .parquet(path)
        )

    root, meta = cache.get(f"shards_{n_shards}x{shard_rows}_s{seed}", build)
    return [os.path.join(root, f"shard={k}") for k in range(n_shards)], meta


def json_table(cache: Cache, n_docs: int, seed: int) -> tuple[str, dict]:
    """Parquet ``(doc_id string, doc string)`` in ``JSON_FILES`` files;
    meta carries the defect tally."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(path):
        docs, tally = json_docs(n_docs, seed)
        os.makedirs(path)
        per_file = -(-n_docs // JSON_FILES)
        for f in range(JSON_FILES):
            lo, hi = f * per_file, min(n_docs, (f + 1) * per_file)
            table = pa.table(
                {
                    "doc_id": [f"d{i:09d}" for i in range(lo, hi)],
                    "doc": docs[lo:hi],
                }
            )
            pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
        return {"tally": tally, "n_bytes": sum(len(d) for d in docs)}

    return cache.get(f"json_n{n_docs}_s{seed}", build)
