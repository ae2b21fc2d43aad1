"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes, for a spike workload, hour files `level_<hourEpoch>/` in the
reference histogram schema (timestamp, subagent_id, num_protocol,
CountPkt, type_proto, dst_ip), a watch-list file, a raw little-endian
copy of every hour's rows for the independent model (`rows/<hour>.bin`)
and a small hand-built case for the model self-test (`selftest/`). For
the dedup workload it writes the corpus (`corpus/`, doc_id + text), the
add/delete batch schedule and the planted exact-duplicate groups.

The same seed gives byte-identical files. One process; pyarrow uses at
most `nproc` (capped at 4) threads.
"""
import argparse
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SCHEMA = pa.schema([
    ("timestamp", pa.int64()), ("subagent_id", pa.int64()),
    ("num_protocol", pa.int32()), ("CountPkt", pa.int64()),
    ("type_proto", pa.int32()), ("dst_ip", pa.int64()),
])
PROTO_PAIRS = np.array([(6, 11), (17, 31), (1, 8)], dtype=np.int64)


def ip(a, b, c, d):
    return (a << 24) | (b << 16) | (c << 8) | d


def dotted(x):
    x = int(x)
    return f"{(x >> 24) & 255}.{(x >> 16) & 255}.{(x >> 8) & 255}.{x & 255}"


def write_hour(out, hour, cols, files):
    """One hour: `files` parquet parts plus the model's raw copy."""
    n = len(cols[0])
    d = os.path.join(out, f"level_{hour}")
    os.makedirs(d)
    bounds = np.linspace(0, n, files + 1).astype(np.int64)
    for i in range(files):
        lo, hi = bounds[i], bounds[i + 1]
        t = pa.Table.from_arrays(
            [pa.array(c[lo:hi].astype(f.type.to_pandas_dtype()), type=f.type)
             for c, f in zip(cols, SCHEMA)], schema=SCHEMA)
        pq.write_table(t, os.path.join(d, f"part-{i:05d}.parquet"),
                       compression="snappy", row_group_size=1 << 20)
    rows = os.path.join(out, "rows")
    os.makedirs(rows, exist_ok=True)
    with open(os.path.join(rows, f"{hour}.bin"), "wb") as f:
        np.array([n], dtype="<i8").tofile(f)
        for c in cols:
            c.astype("<i8").tofile(f)


def write_watchlist(path, ips):
    with open(path, "w") as f:
        f.write("# perfbench watch-list\n")
        for x in sorted(set(int(v) for v in ips)):
            f.write(dotted(x) + "\n")


def gen_spike(p, rng, out):
    # address space: distinct /24s under 10/8, hosts 1..254 (never .0,
    # so a /32 key can never equal a /24 network key)
    nets = (10 << 24) | (rng.choice(1 << 16, p["n_nets"], replace=False) << 8)
    hosts = np.stack([rng.choice(np.arange(1, 255), p["hosts_per_net"],
                                 replace=False) for _ in range(p["n_nets"])])
    ips = (nets[:, None] | hosts).ravel()
    n_ips = len(ips)
    pair = PROTO_PAIRS[rng.integers(0, len(PROTO_PAIRS), n_ips)]
    level = np.exp(rng.uniform(np.log(p["level_min"]), np.log(p["level_max"]), n_ips))
    attacked = rng.random(n_ips) < p["attack_share"]
    h0 = p["hour0"]
    hours = [h0 - 3600 + 3600 * i for i in range(p["hours"])]
    rows_n = p["rows_per_hour"]
    for h in hours:
        idx = rng.choice(n_ips, rows_n)
        ts = h + rng.integers(0, 3600, rows_n)
        cnt = np.maximum(1, (level[idx] * rng.uniform(0.5, 1.5, rows_n)).astype(np.int64))
        # rotating attack: each attacked address is hit in one of every
        # three 10-minute slots, the slot shifting per address
        hit = attacked[idx] & (((ts // 600) + idx) % 3 == 0)
        cnt = np.where(hit, cnt * p["attack_mult"], cnt)
        cols = [ts, rng.integers(1, 9, rows_n), pair[idx, 0], cnt, pair[idx, 1], ips[idx]]
        write_hour(out, h, cols, p["files_per_hour"])
    watched = ips[rng.random(n_ips) < p["watch_ip_share"]].tolist() + nets.tolist()
    write_watchlist(os.path.join(out, "watchlist.txt"), watched)
    gen_selftest(p, os.path.join(out, "selftest"))


def gen_selftest(p, out):
    """Hand-built hour pair where each deliberate model mutation (clamp
    off, rounding avg, TTL `>` sweep, no watch-list gate, weighted /24
    roll-up) changes the emitted alerts. See SpikeBench.selfTest."""
    os.makedirs(out)
    h = p["hour0"]
    a = ip(10, 200, 0, 5)        # clamped baseline alert, re-fires at TTL
    b = ip(10, 200, 1, 7)        # avg 7500.5: alerts only if rounded
    c = ip(10, 200, 2, 9)        # alerting but not watched
    d1, d2 = ip(10, 200, 3, 1), ip(10, 200, 3, 2)  # /24 avg-of-avgs alert
    prev_rows = [(h - 1000, a, 6, 11, 30000), (h - 900, a, 6, 11, 30000)]
    cur_rows = [(h + 3000, a, 6, 11, 8000), (h + 3001, a, 6, 11, 8000),
                (h + 3000, b, 17, 31, 7500), (h + 3001, b, 17, 31, 7501),
                (h + 3000, c, 6, 11, 9000),
                (h + 3000, d1, 6, 11, 9000), (h + 3001, d1, 6, 11, 9000),
                (h + 3002, d1, 6, 11, 9000), (h + 3000, d2, 6, 11, 13000)]
    for hour, rows in ((h - 3600, prev_rows), (h, cur_rows)):
        r = np.array(rows, dtype=np.int64)
        cols = [r[:, 0], np.ones(len(r), dtype=np.int64), r[:, 2], r[:, 4], r[:, 3], r[:, 1]]
        write_hour(out, hour, cols, 1)
    write_watchlist(os.path.join(out, "watchlist.txt"),
                    [a, b, d1, d2, ip(10, 200, 3, 0)])


def gen_dedup(p, rng, out):
    vocab = np.array([f"w{i}" for i in range(p["vocab"])])
    wts = 1.0 / np.arange(1, p["vocab"] + 1) ** 1.05
    wts /= wts.sum()
    n = p["base_docs"] + p["max_batches"] * p["add_batch_docs"]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < p["exact_dup_share"]:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < p["exact_dup_share"] + p["near_dup_share"]:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(p["near_dup_edits"]):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.choice(p["vocab"], p=wts))]
            texts.append(" ".join(toks))
        else:
            ln = int(rng.integers(p["doc_len_min"], p["doc_len_max"] + 1))
            texts.append(" ".join(vocab[rng.choice(p["vocab"], ln, p=wts)]))
    # planted exact-duplicate groups: every id sharing one text
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i + 1)
    groups = [g for g in by_text.values() if len(g) > 1]

    d = os.path.join(out, "corpus")
    os.makedirs(d)
    t = pa.table({"doc_id": pa.array(np.arange(1, n + 1), type=pa.int64()),
                  "text": pa.array(texts, type=pa.string())})
    pq.write_table(t, os.path.join(d, "part-00000.parquet"), compression="snappy")

    base = p["base_docs"]
    live = set(range(1, base + 1))
    nb, ab = p["max_batches"], p["add_batch_docs"]
    lines = []
    for b in range(nb):
        lo = base + b * ab + 1
        adds = list(range(lo, lo + ab))
        dels = []
        if (b + 1) % p["delete_every_batches"] == 0:
            cand = np.array(sorted(live))
            dels += sorted(rng.choice(cand, p["delete_live_ids"], replace=False).tolist())
            # tombstones of ids a later batch adds (delete-then-add)
            fut_lo, fut_hi = lo + ab, min(lo + 11 * ab, base + nb * ab + 1)
            if fut_hi > fut_lo:
                k = min(p["delete_future_ids"], fut_hi - fut_lo)
                dels += sorted(rng.choice(np.arange(fut_lo, fut_hi), k, replace=False).tolist())
        live.update(adds)
        live.difference_update(dels)
        lines.append("add=" + ",".join(map(str, adds)) + ";del=" + ",".join(map(str, dels)))
    with open(os.path.join(out, "schedule.txt"), "w") as f:
        f.write(f"base={base}\n")
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out, "exact_groups.txt"), "w") as f:
        for g in groups:
            f.write(",".join(map(str, g)) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    threads = max(1, min(os.cpu_count() or 1, 4))
    pa.set_cpu_count(threads)
    pa.set_io_thread_count(threads)
    with open(os.path.join(HERE, "workloads.json")) as f:
        all_params = json.load(f)
    p = all_params[a.workload]
    os.makedirs(a.out)
    # the workload name joins the seed, so adding a workload leaves every
    # other workload's inputs for a seed unchanged
    rng = np.random.default_rng([a.seed, zlib.crc32(a.workload.encode())])
    if p["kind"] == "spike":
        gen_spike(p, rng, a.out)
    else:
        gen_dedup(p, rng, a.out)
    with open(os.path.join(a.out, "params.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, **p}, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
