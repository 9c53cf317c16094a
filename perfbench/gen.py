"""Seeded input generation for the perfbench workloads.

Every input is a pure function of (workload, seed): the same seed writes the
same bytes. Inputs are cached under the benchmark's scratch root, keyed by
workload and seed, and the program under test receives only these files.

* Battery cells follow scripts/make_bigcell.py's Arbin shape (CC-charge ramp,
  plateau CC-discharge, rest) with fewer rows per cycle; each cell's capacity
  fade is drawn from the seed.
* The catalog fixture has the driver testdata schemas and the value
  generators of scripts/make_scale.py (the 31-word document vocabulary,
  doc lengths, duplicate rate, value ranges), with every foreign key inside
  the fixture's own dims, at a stated multiple of sf0.1 and without reading
  any file outside the benchmark.
"""
import json
import os
import shutil

import numpy as np

# battery_fleet shape: BATTERY_CELLS cells x CYCLES cycles x ROWS_PER_CYCLE
BATTERY_CELLS = 2
CYCLES = 500
N_CHG, N_DIS, N_REST = 60, 36, 4
ROWS_PER_CYCLE = N_CHG + N_DIS + N_REST
FADE_RANGE = (0.0003, 0.0008)  # fraction of capacity lost per cycle

# the driver documents' vocabulary (31 words, sorted)
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

# table sizes at sf0.1 (the driver bench fixture)
SF01 = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000,
        "part": 20_000, "supplier": 1_000, "events": 100_000,
        "event_users": 1_500, "documents": 5_000, "embeddings": 2_000}


def battery_cell_csv(path, fade):
    """One Arbin-shaped cell; the pipeline's OLS fade slope reads -fade*100."""
    import pandas as pd
    per = ROWS_PER_CYCLE
    n = CYCLES * per
    cyc = np.repeat(np.arange(1, CYCLES + 1), per)
    scale = 1.0 - fade * (cyc - 1)
    pos = np.tile(np.arange(per), CYCLES)
    is_chg = pos < N_CHG
    is_dis = (pos >= N_CHG) & (pos < N_CHG + N_DIS)
    is_rest = pos >= N_CHG + N_DIS
    step_idx = np.where(is_chg, 1, np.where(is_dis, 2, 3))
    step_name = np.where(is_chg, "CC Charge",
                         np.where(is_dis, "CC Discharge", "Rest"))
    volt = np.where(is_chg, 3.0 + 1.2 * pos / (N_CHG - 1), 0.0)
    chg_cap = np.where(is_chg, 1.5 * scale * (pos + 1) / N_CHG, 1.5 * scale)
    f = np.clip((pos - N_CHG) / (N_DIS - 1), 0.0, 1.0)
    dis_v = np.where(f < 0.1, 4.15 - 3.5 * f,
                     np.where(f < 0.9, 3.80 - 0.15 * (f - 0.1) / 0.8,
                              3.65 - 6.5 * (f - 0.9)))
    dis_f = np.where(f < 0.1, 0.10 * f / 0.1,
                     np.where(f < 0.9, 0.10 + 0.80 * (f - 0.1) / 0.8,
                              0.90 + 0.10 * (f - 0.9) / 0.1))
    volt = np.where(is_dis, dis_v, volt)
    volt = np.where(is_rest, 3.0, volt)
    dis_cap = np.where(is_dis, 1.45 * scale * dis_f,
                       np.where(is_rest, 1.45 * scale, 0.0))
    curr = np.where(is_chg, 1.5, np.where(is_dis, -1.5, 0.0))
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(10 * np.arange(n),
                                                       unit="s")
    pd.DataFrame({
        "Date_Time": ts.strftime("%Y-%m-%d %H:%M:%S"),
        "Cycle_Index": cyc, "Step_Index": step_idx, "Step_Name": step_name,
        "Current(A)": np.round(curr, 4), "Voltage(V)": np.round(volt, 4),
        "Temperature(C)": np.where(is_dis, 25.5, 25.0),
        "Charge_Capacity(Ah)": np.round(chg_cap, 6),
        "Discharge_Capacity(Ah)": np.round(dis_cap, 6),
    }).to_csv(path, index=False)


def battery_fleet(out, seed):
    rng = np.random.default_rng(seed)
    cells = []
    for i in range(BATTERY_CELLS):
        fade = float(np.round(rng.uniform(*FADE_RANGE), 6))
        cell = f"CELL{i:02d}"
        path = os.path.join(out, f"{cell}.csv")
        battery_cell_csv(path, fade)
        cells.append({"cell": cell, "csv": f"{cell}.csv", "fade": fade,
                      "rows": CYCLES * ROWS_PER_CYCLE,
                      "bytes": os.path.getsize(path)})
    return {"cells": cells, "cycles": CYCLES,
            "rows": sum(c["rows"] for c in cells)}


def catalog_fixture(out, seed, mult):
    """Driver-shaped tables at `mult` x sf0.1 (mult=1 is sf0.1-sized)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * mult))) for k, v in SF01.items()}

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    write("customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    np_ = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
            "widget"]
    write("part", {
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * (np.arange(np_) % 1000), 1)})
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})

    no = n["orders"]
    odate = (np.datetime64("1995-01-01", "ms")
             + rng.integers(0, 2404, no).astype("timedelta64[D]")
             .astype("timedelta64[ms]"))
    write("orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no)})
    nl = n["lineitem"]
    ship = (np.datetime64("1995-01-02", "ms")
            + rng.integers(0, 2498, nl).astype("timedelta64[D]")
            .astype("timedelta64[ms]"))
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, nl), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(ship, pa.timestamp("ms"))})

    ne = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "ns")
    span_ns = 30 * 24 * 3600 * 10**9
    ts = ts0 + np.sort(rng.integers(0, span_ns, ne)).astype("timedelta64[ns]")
    write("events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n["event_users"], ne), pa.int64()),
        "event_type": rng.choice(
            ["view", "click", "purchase", "signup", "error"], ne),
        "value": np.round(np.clip(rng.exponential(50.0, ne), 0, 1000), 2),
        "props": [json.dumps({"k": int(k)}) for k in
                  rng.integers(0, 100, ne)]})

    nd = n["documents"]
    words = rng.integers(10, 101, nd)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in words]
    # exact duplicates at the sf0.1 rate (8 per 5000)
    for i in rng.choice(nd, max(1, nd * 8 // 5000), replace=False):
        texts[i] = texts[int(rng.integers(0, nd))]
    write("documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "zh", "fr", "es"], nd,
                           p=[0.412, 0.147, 0.147, 0.147, 0.147]),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return {"tables": {k: n[k] for k in
                       ("lineitem", "orders", "events", "documents",
                        "embeddings")}, "mult": mult}


def ensure(root, workload, seed, mult):
    """Build (once) and return the input dir and its manifest."""
    key = f"{workload}-seed{seed}" + (f"-x{mult}" if mult else "")
    d = os.path.join(root, key)
    man = os.path.join(d, "manifest.json")
    if os.path.exists(man):
        with open(man) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "battery_fleet":
        info = battery_fleet(tmp, seed)
    else:
        info = catalog_fixture(tmp, seed, mult)
    info["seed"] = seed
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, info
