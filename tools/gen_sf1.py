"""Generate a perf-measurement sf1.0 dataset by scaling sf0.1 ×10.

The driver measures rounds at a driver-generated SF (BENCH_r07.json:
``"sf": "/root/testdata/sf1.0"``) that is absent from the sandbox after
the round closes.  For optimization work we need numbers at that scale,
so this synthesizes a ~10× sf0.1 with the SAME schema, dtypes, time
range and (crucially) the same DUPLICATE RATE / key-density structure:

- events ×10: new user cohorts per replica (same events/user density,
  same time span — matches "bigger SF = more users"), dense unique
  event_ids.
- documents ×10: fresh word-soup draws from the observed 31-word vocab
  and length distribution, with near-dup/exact-dup plants at the rate
  measured at sf0.1 (~4.7% near, ~0.16% exact) — naive text replication
  would make every doc a 10-way cross-replica near-dup and explode the
  LSH candidate volume far beyond what a real sf1.0 contains.
- embeddings ×10: per-label resampling (label mean + per-dim std from
  sf0.1) so cluster structure holds without manufacturing near-dup
  copies.
- dimension/TPC-H tables: copied as-is (no battery query touches them).

ONLY for perf iteration: correctness gates keep running on the
driver-provided sf0.001/sf0.01. Output: /root/bigdata/sf1.0 (one
parquet file per table, like the driver's layout).
"""
from __future__ import annotations

import shutil
import sys
from pathlib import Path

import numpy as np
import pandas as pd

SRC = Path("/root/testdata/sf0.1")
DST = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/bigdata/sf1.0")
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 10


def write_us(pdf: pd.DataFrame, path: Path) -> None:
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def events() -> None:
    base = pd.read_parquet(SRC / "events.parquet")
    n = len(base)
    uoff = int(base.user_id.max()) + 1
    frames = []
    rng = np.random.default_rng(7)
    for r in range(REPS):
        f = base.copy()
        f["event_id"] = f.event_id + r * n
        if r:
            f["user_id"] = f.user_id + r * uoff
            # re-draw values so replicas aren't bit-identical columns
            f["value"] = np.round(f.value.values * rng.uniform(0.9, 1.1, n), 2)
        frames.append(f)
    out = pd.concat(frames, ignore_index=True)
    out = out.sort_values("ts", kind="stable").reset_index(drop=True)
    out["event_id"] = np.arange(len(out), dtype=np.int64)  # dense ids in ts order
    write_us(out, DST / "events.parquet")
    print("events", len(out))


def documents() -> None:
    base = pd.read_parquet(SRC / "documents.parquet")
    vocab = sorted({w for t in base.text for w in t.split()})
    langs = base.lang.value_counts(normalize=True)
    nsrc = base.source.nunique()
    n = len(base)
    frames = [base]
    for r in range(1, REPS):
        rng = np.random.default_rng(1000 + r)
        lens = rng.integers(10, 101, n)
        texts = [" ".join(rng.choice(vocab, k)) for k in lens]
        # plant near-dups (mutate tail) and exact dups at sf0.1 rates
        near = rng.choice(n, int(0.047 * n), replace=False)
        for i in near:
            j = int(rng.integers(0, n))
            w = texts[j].split()
            cut = max(1, len(w) - int(rng.integers(1, 6)))
            texts[i] = " ".join(w[:cut] + list(rng.choice(vocab, len(w) - cut)))
        exact = rng.choice(n, max(1, int(0.0016 * n)), replace=False)
        for i in exact:
            texts[i] = texts[int(rng.integers(0, n))]
        f = pd.DataFrame({
            "doc_id": np.arange(r * n, (r + 1) * n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(langs.index.to_numpy(), n, p=langs.to_numpy()),
            "source": [f"src{int(s)}" for s in rng.integers(0, nsrc, n)],
        })
        f["n_chars"] = f.text.str.len().astype(np.int64)
        frames.append(f)
    out = pd.concat(frames, ignore_index=True)
    write_us(out, DST / "documents.parquet")
    print("documents", len(out))


def embeddings() -> None:
    base = pd.read_parquet(SRC / "embeddings.parquet")
    mat = np.vstack(base.embedding.values)
    n, dim = mat.shape
    frames = [base]
    for r in range(1, REPS):
        rng = np.random.default_rng(2000 + r)
        labels = base.label.values.copy()
        vecs = np.empty_like(mat)
        for lb in np.unique(labels):
            m = labels == lb
            mu, sd = mat[m].mean(0), mat[m].std(0)
            vecs[m] = rng.normal(mu, np.maximum(sd, 1e-6), (m.sum(), dim))
        f = pd.DataFrame({
            "vec_id": np.arange(r * n, (r + 1) * n, dtype=np.int64),
            "embedding": [row.astype(np.float32) for row in vecs],
            "label": labels.astype(np.int32),
        })
        frames.append(f)
    out = pd.concat(frames, ignore_index=True)
    write_us(out, DST / "embeddings.parquet")
    print("embeddings", len(out))


def main() -> None:
    DST.mkdir(parents=True, exist_ok=True)
    events()
    documents()
    embeddings()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        shutil.copy(SRC / f"{t}.parquet", DST / f"{t}.parquet")
    (DST / "_DONE").touch()
    print("done ->", DST)


if __name__ == "__main__":
    main()
