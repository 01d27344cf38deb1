"""Seeded input generator for the replication benchmark.

Runs as its own single-threaded process, before the engine starts:

    python3 perfbench/gen.py --workload cdc_mor --seed 7 --scale full --out DIR

It writes the workload's source files under ``DIR`` plus ``expect.json``:
the expected results, computed from the generated inputs alone (numpy and
DuckDB; never by the engine under test). ``expect.json`` is written last, so
its presence marks a complete input set.

Every workload's shape, and why it has that shape, is in ``SHAPES``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload and scale. "full" is sized so that a run on a 4-core
# box spends its measured window in steady state; "tiny" is for the
# self-test and only has to exercise every code path.
SIZES = {
    "cdc_mor": {
        "full": {"base_keys": 25_000, "files": 4, "batches": 60, "changes": 500},
        "tiny": {"base_keys": 2_000, "files": 2, "batches": 12, "changes": 100},
    },
    "incremental_curate": {
        "full": {"corpus": 800, "rounds": 16, "arrivals": 60, "updates": 40, "evolve_round": 3},
        "tiny": {"corpus": 200, "rounds": 6, "arrivals": 20, "updates": 10, "evolve_round": 2},
    },
}

SHAPES = {
    "cdc_mor": (
        "A full-refresh backfill of a wide source table (composite primary key "
        "hashed into _olake_id, a nested struct flattened to JSON, timestamps, "
        "strings, several files), then LSN-ordered change batches applied "
        "merge-on-read, as a CDC stream does after its initial load. "
        "Keys are Zipf-skewed (a=1.3) so hot keys change many times; 10% of "
        "changes are deletes and 20% are new keys. Batches are 2% of the table, "
        "so each commit appends a small delta and readers pay the resolution."
    ),
    "incremental_curate": (
        "A documents table synced by cursor, copy-on-write, about 10x the drop: "
        "each drop has 60 new documents and 40 Zipf-skewed view-count updates of "
        "earlier ones, and the previous drop is re-delivered for the cursor "
        "filter to drop. One round adds a column and widens an int to long. "
        "Each drop's new documents are then curated against a MinHash index of "
        "the starting corpus: 60% fresh, 15% exact duplicates within the day "
        "(case and whitespace changed), 15% near duplicates of corpus documents "
        "(one word replaced), 10% below the 5-token quality gate."
    ),
}

EPOCH_US = 1_700_000_000_000_000  # 2023-11-14, a fixed base for timestamps
TS = pa.timestamp("us", tz="UTC")


def _strings(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """n random lowercase strings with lengths in [lo, hi]."""
    lens = rng.integers(lo, hi + 1, n)
    chars = rng.integers(97, 123, int(lens.sum()), dtype=np.uint8).tobytes().decode()
    ends = np.cumsum(lens)
    return np.array([chars[e - k:e] for e, k in zip(ends, lens)], dtype=object)


def _pick(rng: np.random.Generator, pool: np.ndarray, n: int) -> pa.Array:
    """n strings drawn uniformly from ``pool``, decoded from a dictionary."""
    idx = pa.array(rng.integers(0, len(pool), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(pool, pa.string())).dictionary_decode()


def _ndigits(x: np.ndarray) -> np.ndarray:
    """Decimal digits of non-negative integers (0 has one digit)."""
    return np.floor(np.log10(np.maximum(x, 1))).astype(np.int64) + 1


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _zipf_keys(rng: np.random.Generator, n: int, space: int, perm: np.ndarray) -> np.ndarray:
    """n keys from [0, space) with Zipf-skewed popularity; ``perm`` scatters
    the hot ranks over the key space so hot keys are not all adjacent."""
    ranks = (rng.zipf(1.3, n) - 1) % space
    return perm[ranks]


# -- cdc_mor ------------------------------------------------------------------


def gen_cdc_mor(rng: np.random.Generator, size: dict, out: str) -> dict:
    """A wide source table (the backfill) and LSN-ordered change batches."""
    import duckdb

    k0, nb, m = size["base_keys"], size["batches"], size["changes"]
    customers = _strings(rng, 2_000, 6, 12)
    notes = _strings(rng, 5_000, 20, 60)
    statuses = np.array(["new", "paid", "shipped", "returned", "cancelled"], dtype=object)

    def columns(keys: np.ndarray, amount: np.ndarray, updated_us: np.ndarray) -> dict:
        n = len(keys)
        return {
            # composite primary key (region_id, order_no); order_no alone is
            # unique, so a key keeps its region across changes
            "region_id": pa.array((keys % 64).astype(np.int32)),
            "order_no": pa.array(keys.astype(np.int64)),
            "customer": _pick(rng, customers, n),
            "status": _pick(rng, statuses, n),
            "amount": pa.array(amount.astype(np.int64)),
            "qty": pa.array(rng.integers(1, 50, n).astype(np.int32)),
            "created_at": pa.array(EPOCH_US + keys * 1_000_000, TS),
            "updated_at": pa.array(updated_us, TS),
            "note": _pick(rng, notes, n),
        }

    def payload(n: int) -> tuple[np.ndarray, np.ndarray]:
        return rng.integers(0, 10_000_000, n), rng.integers(0, 1_000, (n, 3))

    # the backfill source: a snapshot with a nested payload, over several files
    keys = np.arange(k0)
    base_amount = rng.integers(0, 100_000, k0)
    sku, tags = payload(k0)
    cols = columns(keys, base_amount, EPOCH_US + rng.integers(0, 86_400_000_000 * 30, k0))
    cols["payload"] = pa.StructArray.from_arrays(
        [
            pa.array(sku),
            pa.ListArray.from_arrays(
                pa.array(np.arange(0, 3 * k0 + 1, 3, dtype=np.int32)),
                pa.array(tags.ravel().astype(np.int32)),
            ),
        ],
        names=["sku", "tags"],
    )
    base = pa.table(cols)
    base_dir = os.path.join(out, "base")
    os.makedirs(base_dir)
    base_bytes = 0
    bounds = np.linspace(0, k0, size["files"] + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        base_bytes += _write(base.slice(a, b - a), os.path.join(base_dir, f"part-{i:03d}.parquet"))
    # the flattened payload is the JSON {"sku":S,"tags":[a,b,c]}
    json_len = len('{"sku":,"tags":[,,]}') + _ndigits(sku) + _ndigits(tags).sum(axis=1)

    # the dense-key replay below is the per-commit reference; DuckDB gives
    # the independent final-state reference over the same files
    cap = k0 + nb * m
    amount_of = np.zeros(cap, dtype=np.int64)
    alive = np.zeros(cap, dtype=bool)
    amount_of[:k0], alive[:k0] = base_amount, True
    perm = rng.permutation(cap)
    next_key, lsn0 = k0, 1
    batches = []
    for b in range(nb):
        u = rng.random(m)
        ins = u < 0.2
        dele = u >= 0.9
        keys = _zipf_keys(rng, m, next_key, perm[perm < next_key]).astype(np.int64)
        n_ins = int(ins.sum())
        keys[ins] = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        ops = np.where(ins, "c", np.where(dele, "d", "u")).astype(object)
        amount = rng.integers(0, 100_000, m)
        lsn = np.arange(lsn0, lsn0 + m, dtype=np.int64)
        lsn0 += m
        cols = columns(keys, amount, EPOCH_US + 86_400_000_000 * 31 + lsn * 1_000)
        # change events arrive flattened, as the CDC decoders emit them
        sku, tags = payload(m)
        cols["payload"] = pa.array(
            [f'{{"sku":{s},"tags":[{t[0]},{t[1]},{t[2]}]}}' for s, t in zip(sku, tags.tolist())],
            pa.string(),
        )
        cols["lsn"] = pa.array(lsn)
        cols["_op_type"] = pa.array(ops, pa.string())
        p = os.path.join(out, f"batch-{b:04d}.parquet")
        nbytes = _write(pa.table(cols), p)
        # latest change per key within the batch wins (lsn is increasing)
        rk, ri = np.unique(keys[::-1], return_index=True)
        last = m - 1 - ri
        alive[rk] = ops[last] != "d"
        amount_of[rk] = amount[last]
        batches.append(
            {
                "file": os.path.basename(p),
                "bytes": nbytes,
                "rows": m,
                "count": int(alive.sum()),
                "sum_amount": int(amount_of[alive].sum()),
            }
        )
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        # _olake_id of a composite key: md5 of the values joined by "|" in
        # sorted-column-name order (order_no < region_id)
        id_sum, upd_sum = con.execute(
            f"""
            SELECT sum(('0x' || substr(md5(order_no::VARCHAR || '|' || region_id::VARCHAR),
                                       1, 8))::BIGINT),
                   sum(epoch_us(updated_at) // 1000000)
            FROM read_parquet('{base_dir}/*.parquet')
            """
        ).fetchone()
        final = con.execute(
            f"SELECT count(*), sum(amount) FROM ({latest_state_sql(out, nb)})"
        ).fetchone()
    finally:
        con.close()
    if final != (batches[-1]["count"], batches[-1]["sum_amount"]):
        raise RuntimeError(f"cdc references disagree: duckdb {final} vs replay {batches[-1]}")
    return {
        "base": {
            "dir": "base",
            "bytes": base_bytes,
            "rows": k0,
            "sum_amount": int(base_amount.sum()),
            "sum_id_prefix": int(id_sum),
            "sum_payload_len": int(json_len.sum()),
            "sum_updated_s": int(upd_sum),
        },
        "batches": batches,
    }


LATEST_COLS = ["region_id", "order_no", "customer", "status", "amount", "qty", "note"]


def latest_state_sql(out: str, n_batches: int) -> str:
    """DuckDB query for the latest live row per key after the base snapshot
    and the first ``n_batches`` change batches (at least one)."""
    cols = ", ".join(LATEST_COLS)
    files = ", ".join(f"'{out}/batch-{b:04d}.parquet'" for b in range(n_batches))
    return f"""
        SELECT {cols} FROM (
          SELECT {cols}, 0::BIGINT AS lsn, 'r' AS _op_type
          FROM read_parquet('{out}/base/*.parquet')
          UNION ALL
          SELECT {cols}, lsn, _op_type FROM read_parquet([{files}])
        )
        QUALIFY row_number() OVER (PARTITION BY region_id, order_no ORDER BY lsn DESC) = 1
            AND _op_type <> 'd'
    """


# -- incremental_curate -------------------------------------------------------


def gen_incremental_curate(rng: np.random.Generator, size: dict, out: str) -> dict:
    """A documents table synced by cursor, and the daily arrivals in each
    drop curated against a MinHash index of the starting corpus."""
    import duckdb

    n0, rounds, evo = size["corpus"], size["rounds"], size["evolve_round"]
    vocab = _strings(rng, 3_000, 3, 9)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    sources = np.array(["web", "forum", "news", "wiki", "code"], dtype=object)
    langs = np.array(["en", "de", "fr"], dtype=object)

    def doc(lo: int, hi: int) -> str:
        return " ".join(vocab[rng.choice(len(vocab), rng.integers(lo, hi + 1), p=weights)])

    def frame(ids, src, texts, views, cursor_us, evolved: bool) -> pa.Table:
        cols = {
            "doc_id": pa.array(ids, pa.int64()),
            "source": pa.array(src, pa.string()),
            "text": pa.array(texts, pa.string()),
            "views": pa.array(views, pa.int64() if evolved else pa.int32()),
            "updated_at": pa.array(cursor_us, TS),
        }
        if evolved:
            cols["lang"] = _pick(rng, langs, len(ids))
        return pa.table(cols)

    # starting corpus; its ids avoid multiples of 10, because the registry
    # oracle reads doc_id % 10 = 0 as "today's arrivals", the rest as corpus
    ids = np.array([10 * (j // 9) + 1 + j % 9 for j in range(n0)])
    text_of = {int(i): doc(20, 45) for i in ids}
    source_of = {int(i): sources[rng.integers(0, 5)] for i in ids}
    views_of = {int(i): int(v) for i, v in zip(ids, rng.integers(0, 1_000, n0))}
    base = frame(ids, [source_of[i] for i in ids.tolist()], [text_of[i] for i in ids.tolist()],
                 [views_of[i] for i in ids.tolist()], EPOCH_US + np.arange(n0), False)
    base_bytes = _write(base, os.path.join(out, "base.parquet"))

    next_id = 10
    drops, arrivals, planted_exact, planted_near = [], [], [], []
    for r in range(rounds):
        evolved = r >= evo
        # the day's arrivals: new ids, multiples of 10
        new_ids, fresh = [], []
        for _ in range(size["arrivals"]):
            u = rng.random()
            if u < 0.6 or (u < 0.75 and not fresh):
                t = doc(20, 45)
                fresh.append(t)
            elif u < 0.75:
                src = fresh[rng.integers(0, len(fresh))]
                t = "  ".join(src.upper().split(" ")) if rng.random() < 0.5 else src.title()
                planted_exact.append(next_id)
            elif u < 0.9:
                words = text_of[int(ids[rng.integers(0, n0)])].split(" ")
                words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
                t = " ".join(words)
                planted_near.append(next_id)
            else:
                t = doc(1, 4)
            text_of[next_id], source_of[next_id] = t, sources[rng.integers(0, 5)]
            new_ids.append(next_id)
            next_id += 10
        # updates bump the view count of earlier documents (Zipf-skewed,
        # unique per drop; text unchanged)
        known = np.array(sorted(views_of))
        draws = known[(rng.zipf(1.3, size["updates"] * 3) - 1) % len(known)]
        _, first = np.unique(draws, return_index=True)
        upd = draws[np.sort(first)][: size["updates"]].tolist()
        hi = 10_000_000_000 if evolved else 1_000_000
        for i in new_ids:
            views_of[i] = int(rng.integers(0, 1_000))
        for i in upd:
            views_of[i] += int(rng.integers(1, hi))
        day_ids = new_ids + upd
        cursor = EPOCH_US + 1_000_000_000 * (r + 1) + np.arange(len(day_ids))
        tbl = frame(day_ids, [source_of[i] for i in day_ids], [text_of[i] for i in day_ids],
                    [views_of[i] for i in day_ids], cursor, evolved)
        p = os.path.join(out, f"drop-{r:04d}.parquet")
        arrivals.append(tbl.slice(0, len(new_ids)).select(["doc_id", "source", "text"]))
        drops.append(
            {
                "file": os.path.basename(p),
                "bytes": _write(tbl, p),
                "rows": len(day_ids),
                "evolved": evolved,
                "id_lo": new_ids[0],
                "id_hi": new_ids[-1],
                "count": len(views_of),
                "sum_views": sum(views_of.values()),
            }
        )

    sys.path.insert(0, os.getcwd())
    from olake_spark.queries import ordered_oracles
    from olake_spark.queries_data_ops import _NORM

    oracle = ordered_oracles()["curate_incremental_pipeline"]
    # Two rewrites that change the plan, not the result: the shingle CTE
    # reads the normalized text from a column instead of re-running the
    # regex once per shingle, and the signature CTE is computed once instead
    # of once per reference to it.
    a, b = oracle.index("sh AS ("), oracle.index("hashed AS")
    oracle = oracle[:a] + oracle[a:b].replace(_NORM, "norm") + oracle[b:]
    oracle = oracle.replace("sig AS (", "sig AS MATERIALIZED (")
    tail = "SELECT doc_id, source FROM uniq"
    if oracle.count(tail) != 1 or oracle.count("sig AS MATERIALIZED (") != 1:
        raise RuntimeError("curate_incremental_pipeline oracle changed shape")
    counts_sql = oracle[: oracle.index(tail)] + (
        "SELECT 'cand' AS k, nid FROM cand UNION ALL SELECT 'dupe' AS k, nid FROM dupes"
    )
    con = duckdb.connect()
    try:
        # every day is curated against the same corpus index, and exact
        # duplicates never cross days, so one oracle run over all days equals
        # the union of per-day runs
        con.register("docs", pa.concat_tables([base.select(["doc_id", "source", "text"])]
                                              + arrivals))
        con.execute(f"CREATE VIEW documents AS SELECT *, {_NORM} AS norm FROM docs")
        survivors = np.array(sorted(r[0] for r in con.execute(oracle).fetchall()), np.int64)
        pairs = con.execute(counts_sql).fetchall()
    finally:
        con.close()
    cand = np.array([n for k, n in pairs if k == "cand"], np.int64)
    dupe = np.array([n for k, n in pairs if k == "dupe"], np.int64)
    kept_n = kept_sum = 0
    for d in drops:
        lo, hi = d["id_lo"], d["id_hi"]
        kept = survivors[(survivors >= lo) & (survivors <= hi)]
        kept_n += len(kept)
        kept_sum += int(kept.sum())
        d.update(
            curated_count=kept_n,
            curated_sum_doc_id=kept_sum,
            candidate_pairs=int(((cand >= lo) & (cand <= hi)).sum()),
            confirmed=int(((dupe >= lo) & (dupe <= hi)).sum()),
        )
    # distinct 5-char shingles of the normalized corpus, the work MinHash does
    norm = [" ".join(t.lower().split()) for t in base.column("text").to_pylist()]
    shingles = sum(len({s[i:i + 5] for i in range(max(len(s) - 4, 1))}) for s in norm)
    return {
        "base": {"file": "base.parquet", "bytes": base_bytes, "rows": n0, "shingles": shingles},
        "evolve_round": evo,
        "drops": drops,
        "survivors": survivors.tolist(),
        "planted_exact": planted_exact,
        "planted_near": planted_near,
    }


GENERATORS = {
    "cdc_mor": gen_cdc_mor,
    "incremental_curate": gen_incremental_curate,
}


def generate(workload: str, seed: int, scale: str, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    # one stream per workload, so changing one generator leaves the others'
    # inputs for a seed unchanged
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    size = SIZES[workload][scale]
    expect = GENERATORS[workload](rng, size, out)
    expect.update(workload=workload, seed=seed, scale=scale, size=size,
                  why=SHAPES[workload])
    tmp = os.path.join(out, "expect.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(expect, fh)
    os.replace(tmp, os.path.join(out, "expect.json"))
    return expect


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", default="full", choices=["full", "tiny"])
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.scale, a.out)


if __name__ == "__main__":
    main()
