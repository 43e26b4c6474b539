#!/usr/bin/env python
"""Dense-documents sf1 variant for dedup-workload measurement.

`jobs/make_sf1.py` expands documents with DISJOINT shingle replicas so
that near-dup pair volume scales linearly — the right workload for
scaling pins. The DRIVER's own sf1.0, however, keeps the shingle
vocabulary nearly constant as docs grow (sf0.01 -> sf0.1 ladder:
distinct shingles 16.2k -> 27.2k while inverted-index rows go 26k ->
260k and candidate events 14k -> 1.27M, i.e. ~quadratic candidates),
so the exact-Jaccard pair phase is ~10x heavier per doc than the
disjoint expansion at the same row count. This job reproduces that
density locally so pair-phase optimizations are A/B'd on the same
workload the driver times:

  replica r in 1..9 of doc i = a seeded MOSAIC of 8-token chunks
  sampled from the WHOLE sf0.1 corpus, cut to doc i's token count.
  Chunks reuse existing trigrams, so the shingle vocabulary stays
  ~flat while index rows scale 10x -> candidate events scale ~100x
  (like the driver's sf1.0: ~2.6M index rows over ~28k shingles,
  ~127M candidate events). Mosaics are cross-doc patchwork, so they
  add (almost) no qualifying jaccard>=0.5 pairs — output stays tiny,
  like every sf.

Only documents.parquet is generated; copy the other tables from an
existing make_sf1 output (or point bench at this dir with the rest
symlinked):

  python jobs/make_sf1.py --out testdata_sf1
  python jobs/make_sf1_dense.py --src /root/testdata/sf0.1 \
      --base testdata_sf1 --out testdata_sf1d

Pure pyarrow + seeded random.Random — deterministic, no Spark.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

CHUNK = 8


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--base", default="testdata_sf1",
                    help="dir holding the non-documents tables to copy")
    ap.add_argument("--out", default="testdata_sf1d")
    args = ap.parse_args()

    t = pq.read_table(os.path.join(args.src, "documents.parquet"))
    docs = t.to_pylist()
    toks = [d["text"].split() for d in docs]
    # chunks come only from docs with tokens, so every draw below extends
    # the mosaic; the same draws as sampling all docs when none is empty
    pool = [tj for tj in toks if tj]

    rows = []
    for i, d in enumerate(docs):
        rows.append({**d, "doc_id": d["doc_id"] * 10})
        for r in range(1, 10):
            rng = random.Random(d["doc_id"] * 10 + r)
            target = len(toks[i])
            out: list[str] = []
            while pool and len(out) < target:
                tj = pool[rng.randrange(len(pool))]
                start = rng.randrange(max(1, len(tj) - CHUNK + 1))
                out.extend(tj[start:start + CHUNK])
            text = " ".join(out[:target])
            # every source column carries over; only these are rebuilt
            rows.append({**d, "doc_id": d["doc_id"] * 10 + r,
                         "text": text, "n_chars": len(text)})

    os.makedirs(args.out, exist_ok=True)
    schema = t.schema
    out_t = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(out_t, os.path.join(args.out, "documents.parquet"))
    for name in os.listdir(args.base):
        if name != "documents.parquet" and name.endswith(".parquet"):
            src = os.path.join(args.base, name)
            dst = os.path.join(args.out, name)
            if os.path.isdir(src):
                shutil.copytree(src, dst, dirs_exist_ok=True)
            else:
                shutil.copy(src, dst)
    print(f"wrote {args.out}: {out_t.num_rows} docs")


if __name__ == "__main__":
    main()
