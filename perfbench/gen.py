"""Seeded input generator.

Everything the benchmark feeds the engine is resampled here, by one
integer seed, from the fixture rows vendored in ``perfbench/fixture/``
(see ``fixture/make_fixture.py``), so the same seed always gives the same
inputs. Documents keep the fixture's text, language, source and length;
embeddings are fixture vectors; the relational tables are a seeded subset
of fixture orders with their line items. The only departures from the
fixture are the duplicate shares the callers state: verbatim
re-submissions of a document under a new id, and near-duplicates that add
one trailing ``dup`` token.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
RELATIONAL = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
# of the vendored rows, how many a seed draws
ORDERS = 1500
EVENTS = 1000


@functools.cache
def fixture(name: str) -> pa.Table:
    return pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))


@functools.cache
def _doc_pool() -> tuple[dict, ...]:
    """Fixture documents, the first of each text only (a few texts repeat
    in the fixture; the stated duplicate shares should be the only ones)."""
    seen: set[str] = set()
    pool = []
    for row in fixture("documents").to_pylist():
        if row["text"] not in seen:
            seen.add(row["text"])
            pool.append(row)
    return tuple(pool)


class _Originals:
    """Fixture documents drawn without replacement in a seeded order."""

    def __init__(self, rng: np.random.Generator):
        pool = _doc_pool()
        self._rows = [pool[int(i)] for i in rng.permutation(len(pool))]

    def take(self, doc_id: int) -> dict:
        return dict(self._rows.pop(), doc_id=doc_id)


def _copy(row: dict, doc_id: int, text: str | None = None) -> dict:
    text = row["text"] if text is None else text
    return dict(row, doc_id=doc_id, text=text, n_chars=len(text))


def documents(
    rng: np.random.Generator,
    n: int,
    resubmit_share: float,
    near_dup_share: float,
) -> list[dict]:
    """``n`` documents with ids 0..n-1. A ``resubmit_share`` of them repeat
    an earlier original verbatim under a new id, and a ``near_dup_share``
    repeat one with a trailing ``dup`` token. Each original is repeated at
    most once, so duplicate clusters stay pairs."""
    fresh = _Originals(rng)
    originals: list[dict] = []
    rows = []
    for doc_id in range(n):
        u = rng.random()
        if originals and u < resubmit_share + near_dup_share:
            src = originals.pop(int(rng.integers(0, len(originals))))
            text = src["text"] if u < resubmit_share else src["text"] + " dup"
            rows.append(_copy(src, doc_id, text))
        else:
            rows.append(fresh.take(doc_id))
            originals.append(rows[-1])
    return rows


def embeddings(
    rng: np.random.Generator, n: int, n_probes: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``n`` fixture embeddings (unit-norm float32, labels 0-9) in a seeded
    order, to be indexed as vec_id 0..n-1, and ``n_probes`` other fixture
    embeddings to query them with. Returns (vecs, labels, probes)."""
    emb = fixture("embeddings")
    rows = rng.permutation(emb.num_rows)[: n + n_probes]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)[rows]
    labels = emb["label"].to_numpy().astype(np.int32)[rows]
    return vecs[:n], labels[:n], vecs[n:]


def relational(rng: np.random.Generator) -> dict[str, pa.Table]:
    """The relational and event tables: ``ORDERS`` vendored orders with
    their line items and ``EVENTS`` vendored events, drawn by seed; the
    dimension tables whole."""
    out = {name: fixture(name) for name in RELATIONAL}
    orders = out["orders"]
    orders = orders.take(np.sort(rng.choice(orders.num_rows, ORDERS, replace=False)))
    out["orders"] = orders
    out["lineitem"] = out["lineitem"].filter(
        pc.is_in(out["lineitem"]["l_orderkey"], orders["o_orderkey"])
    )
    events = out["events"]
    out["events"] = events.take(np.sort(rng.choice(events.num_rows, EVENTS, replace=False)))
    return out


def write_documents(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=fixture("documents").schema), path)


def write_embeddings(path: str, vecs: np.ndarray, labels: np.ndarray) -> None:
    schema = fixture("embeddings").schema
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), vecs.shape[1])
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": emb.cast(schema.field("embedding").type),
            "label": pa.array(labels),
        },
        schema=schema,
    )
    pq.write_table(table, path)


def write_input_dir(
    out_dir: str,
    docs: list[dict],
    vecs: np.ndarray,
    labels: np.ndarray,
    tables: dict[str, pa.Table],
) -> None:
    """One engine input directory: one parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    write_documents(os.path.join(out_dir, "documents.parquet"), docs)
    write_embeddings(os.path.join(out_dir, "embeddings.parquet"), vecs, labels)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def uploads(
    rng: np.random.Generator,
    n_uploads: int,
    docs_per_upload: int,
    reland_share: float,
    resubmit_share: float,
) -> list[list[dict]]:
    """A stream of uploads. From the second upload on, a ``reland_share``
    of each upload re-lands earlier documents verbatim (same id, same
    text) and a ``resubmit_share`` repeats earlier text under a new id; the
    rest are fixture documents not landed before. No text repeats inside
    one upload, so the first-seen winner is always the earliest upload."""
    fresh = _Originals(rng)
    landed: list[dict] = []
    out = []
    next_id = 0
    for _ in range(n_uploads):
        batch: list[dict] = []
        texts: set[str] = set()
        n_old = int(docs_per_upload * reland_share) if landed else 0
        n_dup = int(docs_per_upload * resubmit_share) if landed else 0
        for i in rng.choice(len(landed), n_old + n_dup, replace=False):
            old = landed[int(i)]
            if old["text"] in texts:
                continue
            texts.add(old["text"])
            if len(batch) < n_old:
                batch.append(dict(old))
            else:
                batch.append(_copy(old, next_id))
                next_id += 1
        while len(batch) < docs_per_upload:
            batch.append(fresh.take(next_id))
            next_id += 1
        landed.extend(batch)
        out.append(batch)
    return out
