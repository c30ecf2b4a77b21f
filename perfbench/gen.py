"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
size give byte-identical inputs. The engine under test only ever sees
the files (or DataFrames) these functions produce.

- :func:`write_star_tables` writes the ``documents`` and ``embeddings``
  star tables the analytics queries read. Schemas, value domains and
  marginal distributions follow the repository's fixture tables
  (FIXTURES.md §2): uniform random words from a 30-word vocabulary, 5%
  of documents a near-copy of an earlier one, 64-d unit embeddings
  drawn around ten weak label centres.
- :func:`subscriptions_table` and :func:`lifecycle_stream` build the
  ``user_subscriptions`` table and the ``run_intent`` call stream.
- :func:`keyed_base` and :func:`keyed_batches` build the keyed-state
  base and its micro-batch event stream.
"""

from __future__ import annotations

import json
import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .reference import LifecycleModel

#: rows per table at scale factor 1 (the fixture ratios, FIXTURES.md §2)
STAR_ROWS = {"documents": 50_000, "embeddings": 20_000}

VOCAB = (
    "agg a batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _documents(nd: int, rng) -> pa.Table:
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), nd, p=_LANG_P)].astype(object),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(ne: int, rng, dim: int = 64) -> pa.Table:
    centres = rng.standard_normal((10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, ne)
    noise = rng.standard_normal((ne, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    x = 0.14 * centres[label] + noise
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(ne), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ``documents`` and ``embeddings`` tables at scale factor ``sf``;
    each draws from its own seeded stream."""
    n = {t: max(1, int(round(r * sf))) for t, r in STAR_ROWS.items()}
    return {
        "documents": _documents(n["documents"], np.random.default_rng([seed, 1])),
        "embeddings": _embeddings(n["embeddings"], np.random.default_rng([seed, 2])),
    }


def write_star_tables(out_dir: str, sf: float, seed: int) -> dict[str, dict]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns
    ``{name: {"rows": n, "bytes": b}}``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in star_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# --------------------------------------------------------------------------
# lifecycle


def subscriptions_table(n_rows: int, seed: int) -> list[dict]:
    """``user_subscriptions`` rows: ids from 1000 up, about 2.5 rows per
    user, 80% active, start dates over two years, and the ragged
    ``payment_status`` key present on the rows the pipeline wrote."""
    rng = np.random.default_rng([seed, 2])
    n_users = max(2, int(n_rows / 2.5))
    start = date(2024, 1, 1)
    rows = []
    for i in range(n_rows):
        plan = int(rng.integers(1, 4))
        d0 = start + timedelta(days=int(rng.integers(0, 730)))
        row = {
            "subscription_id": 1000 + i,
            "user_id": int(rng.integers(1, n_users + 1)),
            "subscription_plan_id": plan,
            "subscription_status": "active" if rng.random() < 0.8 else "inactive",
            "start_date": d0.isoformat(),
            "end_date": (d0 + timedelta(days=365)).isoformat(),
        }
        if rng.random() < 0.5:
            row["payment_status"] = "Free" if plan == 1 else "Paid"
        rows.append(row)
    return rows


def write_json(path: str, rows: list[dict]) -> int:
    """Write a JSON-array file as the pipeline's sink does; returns bytes."""
    with open(path, "w") as fh:
        json.dump(rows, fh, indent=2)
    return os.path.getsize(path)


INTENTS = ("create", "change", "cancel", "view")


def lifecycle_stream(
    plans: list[dict], subs: list[dict], n_groups: int, seed: int
) -> list[dict]:
    """``run_intent`` confs in groups of four, one of each intent in a
    seeded order. Targets are drawn from a replay of the stream so far,
    so every call is valid: ``change``/``cancel`` hit a user with an
    active subscription, ``create`` a known or brand-new user, and one
    ``view`` in four asks for a user with no subscription at all (the
    null-result path)."""
    rng = np.random.default_rng([seed, 3])
    model = LifecycleModel(plans, subs)
    names = [p["subscription_plan_name"] for p in plans]
    absent = max(r["user_id"] for r in subs) + 1_000_000
    confs = []
    users = sorted(model.by_user)
    for _ in range(n_groups):
        for intent in rng.permutation(INTENTS):
            intent = str(intent)
            if intent == "view" and rng.random() < 0.25:
                user = absent
            elif intent == "create":
                user = int(rng.integers(1, users[-1] + 50))
            else:
                user = users[int(rng.integers(0, len(users)))]
                while model.latest_active(user) is None:
                    user = users[int(rng.integers(0, len(users)))]
            conf = {"user_id": user, "intent": intent}
            if intent in ("create", "change"):
                conf["selected_plan_name"] = names[int(rng.integers(0, len(names)))]
            model.apply(conf)
            confs.append(conf)
    return confs


# --------------------------------------------------------------------------
# keyed upsert

KEYED_SCHEMA = "sub_id BIGINT, user_id BIGINT, plan_id INT, status STRING, seq BIGINT"
_STATUS = np.array(["active", "changed", "cancelled"], dtype=object)


def _base_params(n_rows: int, seed: int) -> tuple[int, int, int]:
    return max(1, n_rows // 2), seed % 7919, seed % 31


def keyed_base(n_rows: int, seed: int) -> dict[str, np.ndarray]:
    """The initial keyed state: one row per ``sub_id`` in [0, n_rows).
    Integer formulas of the id, mirrored by :func:`keyed_base_frame`."""
    users, a, b = _base_params(n_rows, seed)
    ids = np.arange(n_rows, dtype=np.int64)
    return {
        "sub_id": ids,
        "user_id": (ids * 7919 + a) % users,
        "plan_id": (1 + (ids * 31 + b) % 3).astype(np.int32),
        "status": np.full(n_rows, "active", dtype=object),
        "seq": np.zeros(n_rows, dtype=np.int64),
    }


def keyed_base_frame(spark, n_rows: int, seed: int):
    """:func:`keyed_base` computed inside Spark (no driver-side transfer)."""
    users, a, b = _base_params(n_rows, seed)
    return spark.range(n_rows).selectExpr(
        "id AS sub_id",
        f"(id * 7919 + {a}) % {users} AS user_id",
        f"CAST(1 + (id * 31 + {b}) % 3 AS INT) AS plan_id",
        "'active' AS status",
        "CAST(0 AS BIGINT) AS seq",
    )


def keyed_batches(
    n_base: int, sizes: list[int], n_rounds: int, seed: int
) -> list[dict[str, np.ndarray]]:
    """``n_rounds`` repetitions of the batch-size cycle ``sizes``. Each
    batch mixes 30% creates (fresh ids above every id so far) with 70%
    changes or cancels of existing ids; ``seq`` grows monotonically so
    last-writer-wins is well defined, and an id may repeat in a batch."""
    rng = np.random.default_rng([seed, 5])
    next_id = n_base
    seq = 1
    out = []
    for _ in range(n_rounds):
        for size in sizes:
            n_new = int(round(size * 0.3))
            new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
            next_id += n_new
            old_ids = rng.integers(0, next_id - n_new, size - n_new).astype(np.int64)
            ids = rng.permutation(np.concatenate([new_ids, old_ids]))
            is_new = ids >= next_id - n_new
            status = np.where(
                is_new, "active", _STATUS[1 + rng.integers(0, 2, size)]
            ).astype(object)
            out.append(
                {
                    "sub_id": ids,
                    "user_id": rng.integers(0, max(1, n_base // 2), size).astype(np.int64),
                    "plan_id": rng.integers(1, 4, size).astype(np.int32),
                    "status": status,
                    "seq": np.arange(seq, seq + size, dtype=np.int64),
                }
            )
            seq += size
    return out
