"""Seeded input generators for the benchmark workloads.

Every input the program sees is made here from the run's seed with
numpy's PCG64, so the same seed gives byte-identical files and a
different seed gives different ones (test_perfbench.py checks both).
The Scala harness only reads these files; it never draws a random number.

Files, one tab-separated row per line:

forget_table/requests.tsv  batch tick op dist bin n k
forget_table/reads.tsv     batch kind dist bins(comma-separated, may be empty)
suite/passes.tsv           pass query        (the seeded order of each pass)
"""

import os

import numpy as np

# Epoch seconds every generated clock starts from.
T0 = 1_700_000_000            # Workload.T0 in the harness matches

# forget_table: closed-loop rounds of one micro-batch of mixed requests,
# then point reads of the store the batch wrote.
INGEST_DISTS = 20000
INGEST_BINS = 400
INGEST_BATCH = 50000           # requests per micro-batch
INGEST_BATCHES = 8             # more rounds than any run can use
INGEST_TICKS = 10              # clock seconds per micro-batch; WriteRead.Ticks matches
INGEST_TOPK_SHARE = 0.03
INGEST_DIST_SHARE = 0.01
INGEST_TOPK_K = 10
GET_BINS = 3
READS_PER_BATCH = 6            # point reads after each batch: get, topk, dist, twice

# suite: how many seeded pass orders to write.
SUITE_PASSES = 64


def _zipf_picker(n, s, rng):
    """Draw ranks 0..n-1 with P(r) proportional to 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w) / w.sum()

    def pick(size):
        return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), n - 1)
    return pick


def ingest_rows(seed):
    """Yield (batch, tick, op, dist, bin, n, k) tuples.

    Increments sit on even ticks and reads on odd ticks, and no
    distribution gets two reads on one tick, so the order of requests
    inside a micro-batch never depends on the order they arrive in.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    pick_dist = _zipf_picker(INGEST_DISTS, 1.1, rng)
    pick_bin = _zipf_picker(INGEST_BINS, 1.2, rng)
    half = INGEST_TICKS // 2
    for b in range(INGEST_BATCHES):
        base = T0 + b * INGEST_TICKS
        u = rng.random(INGEST_BATCH)
        dists = pick_dist(INGEST_BATCH)
        bins = pick_bin(INGEST_BATCH)
        slots = rng.integers(0, half, INGEST_BATCH)
        seen = set()
        for i in range(INGEST_BATCH):
            d = f"d{dists[i]:05d}"
            if u[i] < INGEST_TOPK_SHARE + INGEST_DIST_SHARE:
                tick = base + 2 * int(slots[i]) + 1
                if (d, tick) in seen:
                    continue
                seen.add((d, tick))
                if u[i] < INGEST_TOPK_SHARE:
                    yield b, tick, "topk", d, "", 0, INGEST_TOPK_K
                else:
                    yield b, tick, "dist", d, "", 0, 0
            else:
                yield b, base + 2 * int(slots[i]), "incr", d, f"b{bins[i]:04d}", 1, 0


def read_rows(seed):
    """Yield (batch, kind, dist, bins): two each of get, topk and dist after each batch.

    Dists follow the increments' Zipf skew, so most reads hit stored
    distributions; a get asks for Zipf-chosen bins, stored or not.
    """
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    pick_dist = _zipf_picker(INGEST_DISTS, 1.1, rng)
    pick_bin = _zipf_picker(INGEST_BINS, 1.2, rng)
    for b in range(INGEST_BATCHES):
        for d in pick_dist(READS_PER_BATCH).reshape(-1, 3):
            bins = sorted({f"b{x:04d}" for x in pick_bin(GET_BINS)})
            yield b, "get", f"d{d[0]:05d}", ",".join(bins)
            yield b, "topk", f"d{d[1]:05d}", ""
            yield b, "dist", f"d{d[2]:05d}", ""


def suite_passes(seed, queries):
    """Return [(pass, query)]: a seeded order of the fixed query list per pass."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    rows = []
    for p in range(SUITE_PASSES):
        rows.extend((p, queries[int(j)]) for j in rng.permutation(len(queries)))
    return rows


def _write(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r))
            f.write("\n")


def generate(workload, seed, out_dir, suite_queries=()):
    """Write the inputs of `workload` for `seed` under `out_dir`; return the paths."""
    if workload == "forget_table":
        paths = [os.path.join(out_dir, n) for n in ("requests.tsv", "reads.tsv")]
        _write(paths[0], ingest_rows(seed))
        _write(paths[1], read_rows(seed))
    elif workload == "suite":
        paths = [os.path.join(out_dir, "passes.tsv")]
        _write(paths[0], suite_passes(seed, list(suite_queries)))
    else:
        raise ValueError(f"unknown workload: {workload}")
    return paths
