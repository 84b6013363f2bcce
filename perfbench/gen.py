"""Seeded input generators for the pipeline benchmark.

Every generator takes the seed as an argument and returns a manifest that
records the exact counts it planted, so the correctness gate compares the
library's outputs against what the inputs provably contain:

  * tables(): the star-schema + events + documents + embeddings tables the
    analytics and curation queries read (same schema and value ranges as the
    repository's sf test data);
  * snapshots(): OpenSky-shaped `/states/all` responses, one directory per
    snapshot, with nulls, an on-ground share, malformed states and corrupt
    side files planted in known counts;
  * gate_steps(): admission-gate vector batches with planted copies of
    indexed vectors and in-batch repeats, plus probe batches whose planted
    probes are exact copies of indexed vectors.
"""
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
# The gate rejects at cosine >= 0.75; random vectors are kept below this,
# so every non-planted vector is novel whatever the LSH signature says.
MAX_RANDOM_COS = 0.72


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vector_col(vecs):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(vecs) * DIM + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _ts(days_from_epoch_us):
    return pa.array(days_from_epoch_us, type=pa.timestamp("us"))


def tables(out_dir, seed, sf):
    """Write the ten query tables at scale factor `sf` into `out_dir`."""
    rng = _rng(seed, 1)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64 = np.int32, np.int64
    day_us = 86400 * 1000000
    d1995 = (datetime(1995, 1, 1) - datetime(1970, 1, 1)).days

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    span_days = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts((d1995 + rng.integers(0, span_days + 1, n_ord)).astype(i64) * day_us),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts((d1995 + 1 + rng.integers(0, span_days + 95, n_line)).astype(i64) * day_us)})
    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1000000
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * day_us, n_ev)).astype(i64)),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: 30-word vocabulary; 5% are near-duplicates (a distinct
    # original's text plus " dup"), the shape the dedup-clustering jobs
    # exist for. The cluster structure is fixed (pairs), so the seed moves
    # content, not how much clustering work there is.
    vocab = np.array(("a agg batch big column customer data fast filter group hash join "
                      "key line merge order part query row scan slow small sort spark "
                      "stream table the value vector window").split())
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_doc)]
    pairs = rng.permutation(n_doc)[:2 * (n_doc // 20)].reshape(2, -1)
    for dup, orig in zip(*pairs):
        texts[dup] = texts[orig] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=i64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=i64)})
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=i64),
        "embedding": _vector_col(_unit_vectors(rng, n_emb)),
        "label": rng.integers(0, 10, n_emb).astype(i32)})
    return {"sf": sf, "embeddings": n_emb}


_COUNTRIES = ["United States", "Germany", "United Kingdom", "France", "China",
              "Canada", "Spain", "Japan", "Brazil", "Australia", "India", "Turkey"]


def snapshots(out_dir, seed, n, states=11524):
    """Write `n` snapshot directories `out_dir/snap_<k>/`.

    Snapshot k is one `/states/all` response whose `time` is 30 s after
    snapshot k-1; the series starts two minutes before an hour boundary so
    the hour-partitioned sink rolls over. Some directories also hold one
    corrupt side file (a truncated response or an HTML error page) that
    must land in the DLQ. Returns the manifest with exact planted counts.
    """
    rng = _rng(seed, 2)
    hour0 = int(datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp()) + \
        3600 * int(rng.integers(0, 24 * 28))
    t_first = hour0 + 3600 - 120
    manifest = {"snapshots": []}
    for k in range(n):
        t = t_first + k * 30
        d = f"{out_dir}/snap_{k:04d}"
        os.makedirs(d, exist_ok=True)
        kind = rng.integers(0, 100, states)       # per-state role draw
        short = kind < 1                          # < 17 fields: dropped
        no_icao = (kind >= 1) & (kind < 2)        # null / empty icao24: dropped
        ground = rng.random(states) < 0.07
        icao = rng.choice(1 << 24, states, replace=False)
        lon = np.round(rng.uniform(-180, 180, states), 6)
        lat = np.round(rng.uniform(-85, 85, states), 6)
        alt = np.round(rng.uniform(100, 12500, states), 2)
        vel = np.round(rng.uniform(60, 280, states), 2)
        trk = np.round(rng.uniform(0, 360, states), 2)
        vr = np.round(rng.normal(0, 5, states), 2)
        null_pos = rng.random(states) < 0.02
        null_cs = rng.random(states) < 0.03
        rows = []
        for i in range(states):
            if short[i]:
                rows.append([f"{icao[i]:06x}", None, _COUNTRIES[i % 12], t - 3, t - 1])
                continue
            g = bool(ground[i])
            rows.append([
                None if (no_icao[i] and i % 2) else ("" if no_icao[i] else f"{icao[i]:06x}"),
                None if null_cs[i] else f"{'UAL' if i % 3 else 'DLH'}{i % 9000:<5d}",
                _COUNTRIES[i % 12], t - int(kind[i] % 10), t - int(kind[i] % 4),
                None if null_pos[i] else float(lon[i]),
                None if null_pos[i] else float(lat[i]),
                0.0 if g else float(alt[i]), g, float(vel[i] / 20 if g else vel[i]),
                float(trk[i]), 0.0 if g else float(vr[i]), None,
                None if g else float(alt[i] + 30.48), f"{int(kind[i]) * 61 % 4096:04o}",
                False, 0])
        with open(f"{d}/states.json", "w") as f:
            json.dump({"time": t, "states": rows}, f, separators=(",", ":"))
            f.write("\n")
        corrupt = 0
        if rng.random() < 0.4:
            corrupt = 1
            bad = ('<html><body>502 Bad Gateway</body></html>' if rng.random() < 0.5
                   else json.dumps({"time": t, "states": rows[:20]})[:777])
            with open(f"{d}/partial.json", "w") as f:
                f.write(bad + "\n")
        valid = int(states - short.sum() - no_icao.sum())
        manifest["snapshots"].append({"dir": d, "time": t, "states": states, "valid": valid,
                                      "short": int(short.sum()), "no_icao": int(no_icao.sum()),
                                      "ground": int((ground & ~short).sum()),
                                      "corrupt_files": corrupt})
    return manifest


def _write_vectors(path, ids, vecs, id_col="vec_id"):
    _write(path, {id_col: np.asarray(ids, dtype=np.int64), "embedding": _vector_col(vecs)})


def _novel(rng, n, existing):
    """`n` random unit vectors below MAX_RANDOM_COS against `existing` and
    each other, so only planted copies can ever gate as duplicates."""
    out = np.empty((0, DIM), np.float32)
    while len(out) < n:
        cand = _unit_vectors(rng, n - len(out))
        ok = np.ones(len(cand), bool)
        for block in (existing, out):
            for s in range(0, len(block), 4096):
                ok &= (cand @ block[s:s + 4096].T).max(axis=1, initial=-1) < MAX_RANDOM_COS
        self_cos = cand @ cand.T
        np.fill_diagonal(self_cos, -1)
        ok &= np.triu(self_cos).max(axis=0, initial=-1) < MAX_RANDOM_COS
        out = np.vstack([out, cand[ok]])
    return out


def gate_steps(out_dir, seed, base_path, n, batch):
    """Write `n` gate steps: `out_dir/batch_<k>.parquet` and
    `out_dir/probe_<k>.parquet`. Batch k holds batch/8 exact copies of
    vectors in the index (status dup_index), batch/12 exact copies of novel
    vectors of the same batch under larger ids (dup_batch) and novel
    vectors (accepted, then appended to the index). Probe k holds 40 exact
    copies of vectors indexed by the end of step k (each must retrieve its
    original) plus 10 random probes."""
    index_copies, batch_repeats, probes, planted_probes = batch // 8, batch // 12, 50, 40
    rng = _rng(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(base_path)
    ids = base["vec_id"].to_numpy()
    vecs = np.stack(base["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    idx_ids, idx_vecs = list(ids), vecs
    n_novel = batch - index_copies - batch_repeats
    steps = []
    for k in range(n):
        novel = _novel(rng, n_novel, idx_vecs)
        novel_ids = 10_000_000 + k * 1000 + np.arange(n_novel)
        pick = rng.choice(len(idx_ids), index_copies, replace=False)
        rep = rng.choice(n_novel, batch_repeats, replace=False)
        b_ids = np.concatenate([novel_ids, 20_000_000 + k * 1000 + np.arange(index_copies),
                                30_000_000 + k * 1000 + np.arange(batch_repeats)])
        b_vecs = np.vstack([novel, idx_vecs[pick], novel[rep]])
        order = rng.permutation(len(b_ids))
        _write_vectors(f"{out_dir}/batch_{k:04d}.parquet", b_ids[order], b_vecs[order])
        idx_ids += list(novel_ids)
        idx_vecs = np.vstack([idx_vecs, novel])
        planted = rng.choice(len(idx_ids), planted_probes, replace=False)
        rand = _novel(rng, probes - planted_probes, idx_vecs)
        q_ids = 40_000_000 + k * 1000 + np.arange(probes)
        _write_vectors(f"{out_dir}/probe_{k:04d}.parquet", q_ids,
                       np.vstack([idx_vecs[planted], rand]), id_col="qid")
        steps.append({
            "batch_id": k + 1,
            "status": {"accepted": n_novel, "dup_index": index_copies,
                       "dup_batch": batch_repeats},
            "dup_of": {str(b_ids[n_novel + i]): int(idx_ids[p]) for i, p in enumerate(pick)}
            | {str(b_ids[n_novel + index_copies + i]): int(novel_ids[r])
               for i, r in enumerate(rep)},
            "probe_expect": {str(q_ids[i]): int(idx_ids[p]) for i, p in enumerate(planted)}})
    return {"steps": steps}
