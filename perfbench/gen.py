"""Seeded input generator and independent DuckDB oracle for one workload.

Runs in its own process, never inside the timed JVM:

    python3 perfbench/gen.py --workload serve_mixed --seed 1 --seconds 30 --out DIR

Writes into DIR:
  initial.parquet          the table's initial state (every key live)
  b0001.parquet ...        one event batch per trigger, warm-up ones first
  plan.json                sizes, setup ops and measured ops
  expected.parquet         oracle rows per check (final state, each lookup,
                           each changefeed read)
  DONE                     written last; a directory without it is garbage

The oracle is a last-writer-wins fold in DuckDB over the generated events:
per key, ``arg_max`` on (event_time, offset, src_partition), tombstones
dropped.  It never touches the engine.  Token arrays are compared through a
position-weighted checksum (``token_checksum``) that the engine side computes
JVM-side over the arrays it stores.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as wl  # noqa: E402

VOCAB = 50257
SOURCES = np.array(["web", "code", "books", "wiki"])
SOURCE_P = [0.70, 0.15, 0.10, 0.05]
MIN_LEN, MAX_LEN = 64, 448  # uniform lengths, mean 256 tokens
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
JITTER_US = 30_000_000  # event_time jitter: reorders events ~30k offsets apart
EVENT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("op", pa.string()),
        ("offset", pa.int64()),
        ("src_partition", pa.int32()),
        ("epoch", pa.int64()),
        ("schema_version", pa.int32()),
        ("event_time", pa.timestamp("us")),
    ]
)


def checksum_weights(pos: np.ndarray) -> np.ndarray:
    """Position weight of the token checksum; < 2^16, so a row's checksum
    stays below 2^41 and never overflows int64 on either side."""
    return (pos * 40503 + 1) % 65521 + 1


WEIGHTS = checksum_weights(np.arange(MAX_LEN + 1, dtype=np.int64)).astype(np.uint32)


def row_checksums(lengths: np.ndarray, flat: np.ndarray) -> np.ndarray:
    """sum_i (token_i + 1) * weight(i) per row, from flat tokens + lengths."""
    starts = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=starts[1:])
    pos = np.arange(len(flat), dtype=np.int64) - np.repeat(starts[:-1], lengths)
    # (token + 1) * weight < 2^32: the product fits uint32
    prod = (flat.astype(np.uint32) + 1) * WEIGHTS[pos]
    cs = np.zeros(len(flat) + 1, np.int64)
    np.cumsum(prod, out=cs[1:])
    return cs[starts[1:]] - cs[starts[:-1]]


def token_checksum(tokens) -> int:
    """Checksum of one token list (the verifier's per-row form)."""
    a = np.asarray(tokens, dtype=np.int64)
    return int(((a + 1) * WEIGHTS[: len(a)]).sum())


def _payload(r: np.random.Generator, n: int, deleted: np.ndarray):
    lengths = r.integers(MIN_LEN, MAX_LEN + 1, n).astype(np.int32)
    lengths[deleted] = 0
    flat = r.integers(0, VOCAB, int(lengths.sum()), dtype=np.int32)
    source = SOURCES[r.choice(len(SOURCES), n, p=SOURCE_P)]
    return lengths, flat, source


def _list_array(lengths: np.ndarray, flat: np.ndarray, null: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat, pa.int32()), mask=pa.array(null)
    )


def _zipf_sampler(s: dict, seed: int):
    ranks = np.arange(1, s["n_keys"] + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -s["zipf_s"])
    cdf /= cdf[-1]
    # rank -> key: hot keys scatter over the key space (and the buckets)
    perm = wl.rng(seed, s["workload"], 1).permutation(s["n_keys"])
    return lambda r, n: perm[np.minimum(np.searchsorted(cdf, r.random(n)), s["n_keys"] - 1)]


def generate(s: dict, seed: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    n_keys = s["n_keys"]
    # ---- initial state: every key live, ordering key below any event ----
    r = wl.rng(seed, s["workload"], 0)
    none_deleted = np.zeros(n_keys, bool)
    lengths, flat, source = _payload(r, n_keys, none_deleted)
    keys = wl.doc_ids(np.arange(n_keys))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(keys),
                "tokens": _list_array(lengths, flat, none_deleted),
                "n_tok": pa.array(lengths),
                "source": pa.array(source),
            }
        ),
        os.path.join(out, "initial.parquet"),
    )
    narrow = [
        {
            "doc_id": keys,
            "b": np.zeros(n_keys, np.int32),
            "et_us": np.zeros(n_keys, np.int64),
            "offset": np.full(n_keys, -1, np.int64),
            "sp": np.full(n_keys, -1, np.int32),
            "deleted": none_deleted,
            "n_tok": lengths,
            "chk": row_checksums(lengths, flat),
            "source": source,
        }
    ]
    # ---- event batches: warm-up batches first, then the measured ones ----
    zipf = _zipf_sampler(s, seed) if s["key_dist"] == "zipf" else None
    n_batches = s["n_warmup"] + s["n_measured"]
    batch_keys: dict[int, np.ndarray] = {}
    prev: dict | None = None
    next_offset = 0
    # parquet encoding releases the GIL: overlap it with generation
    with ThreadPoolExecutor(max_workers=2) as pool:
        writes = []
        for b in range(1, n_batches + 1):
            r = wl.rng(seed, s["workload"], 2, b)
            n = s["trigger_events"]
            k = zipf(r, n) if zipf else r.integers(0, n_keys, n)
            roll = r.integers(0, 10, n)
            op = np.where(roll < 6, "I", np.where(roll < 9, "U", "D"))
            deleted = op == "D"
            lengths, flat, source = _payload(r, n, deleted)
            offset = next_offset + np.arange(n, dtype=np.int64)
            next_offset += n
            fresh = {
                "doc_id": wl.doc_ids(k),
                "b": np.full(n, b, np.int32),
                "et_us": BASE_US + offset * 1000 + r.integers(0, JITTER_US, n),
                "offset": offset,
                "sp": (offset % wl.N_PARTITIONS).astype(np.int32),
                "deleted": deleted,
                "n_tok": lengths,
                "chk": row_checksums(lengths, flat),
                "source": np.where(deleted, None, source),
                "op": op,
                "epoch": np.full(n, b, np.int64),
                "lengths": lengths,
                "flat": flat,
            }
            rows = fresh
            if prev is not None:
                # redelivery: exact copies of a sample of the previous
                # batch's fresh events (same offset, same event_time)
                n_copies = int(wl.REDELIVER * len(prev["b"]))
                pick = np.sort(r.choice(len(prev["b"]), n_copies, replace=False))
                rows = _concat(fresh, _take(prev, pick), b)
            batch_keys[b] = k
            writes.append(pool.submit(_write_batch, rows, os.path.join(out, f"b{b:04d}.parquet")))
            narrow.append({c: rows[c] for c in narrow[0]})
            prev = fresh
        setup_ops, ops = wl.build_ops(s, seed, batch_keys)
        events = pa.table({c: np.concatenate([p[c] for p in narrow]) for c in narrow[0]})
        applies = _oracle(events, setup_ops + ops, out)
        for w in writes:
            w.result()
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(
            {
                "spec": s,
                "seed": seed,
                "batch_events": {str(p["b"][0]): len(p["b"]) for p in narrow[1:]},
                "applies": applies,
                "setup_ops": setup_ops,
                "ops": ops,
            },
            f,
        )


def _take(rows: dict, idx: np.ndarray) -> dict:
    out = {c: v[idx] for c, v in rows.items() if c not in ("lengths", "flat")}
    starts = np.zeros(len(rows["lengths"]) + 1, np.int64)
    np.cumsum(rows["lengths"], out=starts[1:])
    lengths = rows["lengths"][idx]
    seg = np.repeat(starts[:-1][idx], lengths) + (
        np.arange(int(lengths.sum())) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    )
    out["lengths"], out["flat"] = lengths, rows["flat"][seg]
    return out


def _concat(a: dict, b: dict, batch: int) -> dict:
    out = {c: np.concatenate([a[c], b[c]]) for c in a}
    out["b"][:] = batch
    return out


def _write_batch(rows: dict, path: str) -> None:
    deleted = rows["deleted"]
    tbl = pa.table(
        {
            "doc_id": pa.array(rows["doc_id"]),
            "tokens": _list_array(rows["lengths"], rows["flat"], deleted),
            "n_tok": pa.array(rows["lengths"], mask=deleted),
            "source": pa.array(rows["source"], pa.string()),
            "op": pa.array(rows["op"]),
            "offset": pa.array(rows["offset"]),
            "src_partition": pa.array(rows["sp"]),
            "epoch": pa.array(rows["epoch"]),
            "schema_version": pa.array(np.ones(len(deleted), np.int32)),
            "event_time": pa.array(rows["et_us"].astype("datetime64[us]")),
        },
        schema=EVENT_SCHEMA,
    )
    pq.write_table(tbl, path)


def _oracle(events: pa.Table, ops: list[dict], out: str) -> dict[str, int]:
    """LWW per key in DuckDB: arg_max on (event_time, offset, src_partition)
    packed into one HUGEINT; tombstones dropped from state checks.  Returns,
    per batch, how many of its winners beat the state before it (the
    events that do useful work)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("ev_arrow", events)
    con.execute(
        "CREATE TABLE ev AS SELECT *, "
        "et_us::HUGEINT * 1099511627776 + (\"offset\" + 1)::HUGEINT * 256 + (sp + 1) AS ord "
        "FROM ev_arrow"
    )
    winner = "arg_max(struct_pack(deleted, n_tok, chk, source), ord) AS w"
    parts = []

    def state(check: str, at: int, keys: list[str] | None = None) -> None:
        key_filter = ""
        if keys is not None:
            key_filter = "AND doc_id IN (SELECT unnest($keys))"
        q = (
            f"SELECT '{check}' AS check_id, doc_id, w.deleted, w.n_tok, w.chk, w.source "
            f"FROM (SELECT doc_id, {winner} FROM ev WHERE b <= {at} {key_filter} "
            "GROUP BY doc_id) WHERE NOT w.deleted"
        )
        parts.append(con.execute(q, {"keys": keys} if keys is not None else None).arrow())

    last_b = max(op["b"] for op in ops if op["op"] == "trigger")
    state("final", last_b)
    scans: dict[int, dict] = {}
    for i, op in enumerate(ops):
        if op["op"] == "lookup":
            state(f"lookup-{i}", op["at"], op["keys"])
        elif op["op"] == "changes":
            # a changefeed over one apply commit = that batch's own winners
            q = (
                f"SELECT 'changes-{i}' AS check_id, doc_id, w.deleted, w.n_tok, w.chk, w.source "
                f"FROM (SELECT doc_id, {winner} FROM ev WHERE b = {op['b']} GROUP BY doc_id)"
            )
            parts.append(con.execute(q).arrow())
        elif op["op"] == "scan" and op["at"] not in scans:
            row = con.execute(
                f"SELECT count(*), sum(w.n_tok)::BIGINT, sum(w.chk)::BIGINT FROM "
                f"(SELECT doc_id, {winner} FROM ev WHERE b <= {op['at']} GROUP BY doc_id) "
                "WHERE NOT w.deleted"
            ).fetchone()
            scans[op["at"]] = {"rows": row[0], "n_tok": row[1], "chk": row[2]}
        if op["op"] == "scan":
            op["expect"] = scans[op["at"]]
    pq.write_table(pa.concat_tables(parts), os.path.join(out, "expected.parquet"))
    applies = con.execute(
        "SELECT b, count(*) FROM (SELECT b, max(ord) > coalesce(max(max(ord)) OVER ("
        "PARTITION BY doc_id ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) "
        "AS wins FROM ev GROUP BY doc_id, b) WHERE wins AND b > 0 GROUP BY b"
    ).fetchall()
    con.close()
    return {str(b): n for b, n in applies}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tmp = a.out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(wl.spec(a.workload, a.seconds), a.seed, tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
