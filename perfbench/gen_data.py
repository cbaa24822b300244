"""Seeded ingest batch files for the ingest workload.

The base tables are not generated: the benchmark reads the harness's sf0.1
tables, committed under perfbench/data/sf0.1 (SHA256SUMS there). This
module only splits their `events` table into time-ordered batch files.
Run standalone:

    python3 perfbench/gen_data.py <events.parquet> <out_dir> <seed> [late_share resend_share]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
N_BATCHES = 48


def ingest_batches(events_path, out, seed, n_batches, late_share, resend_share):
    """Split the events table into `n_batches` time-ordered batch files
    for the ingest workload. The seed picks which events arrive late (1-3
    batches after their time slot) and which are re-sent (a second copy
    1-5 batches later). `manifest.tsv` records, per batch, its rows and
    the number of distinct event ids landed once it is in: the merge
    sink's expected size."""
    os.makedirs(out, exist_ok=True)
    ev = pq.read_table(events_path).sort_by("event_id")
    n = ev.num_rows
    rng = np.random.Generator(np.random.PCG64([GEN_SEED, seed]))
    slot = np.arange(n) * n_batches // n
    late = rng.random(n) < late_share
    slot = np.where(late, np.minimum(slot + rng.integers(1, 4, n), n_batches - 1), slot)
    resend = rng.random(n) < resend_share
    again = np.minimum(slot + rng.integers(1, 6, n), n_batches - 1)
    rows = np.concatenate([np.arange(n), np.flatnonzero(resend)])
    batch = np.concatenate([slot, again[resend]])
    first = np.full(n, n_batches, dtype=np.int64)
    np.minimum.at(first, rows, batch)
    landed = np.cumsum(np.bincount(first, minlength=n_batches))
    lines = ["batch\trows\tdistinct_after"]
    for b in range(n_batches):
        take = np.sort(rows[batch == b])
        pq.write_table(ev.take(pa.array(take)), os.path.join(out, f"b{b:05d}.parquet"))
        lines.append(f"{b}\t{len(take)}\t{landed[b]}")
    with open(os.path.join(out, "manifest.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    shares = [float(x) for x in sys.argv[4:6]] or [0.05, 0.03]
    ingest_batches(sys.argv[1], sys.argv[2], int(sys.argv[3]), N_BATCHES, *shares)
