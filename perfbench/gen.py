"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, size): the same arguments
write byte-identical files. `tables` writes the parquet relations the
registry queries read (the TPC-H-like star plus `events`, `documents` and
`embeddings`, same schemas and value domains as the repository's test
data); `himalayan` writes the four extracts `HimalayanPipeline` consumes.
"""
import csv
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(df, path):
    table = pa.Table.from_pandas(df, preserve_index=False)
    # no pandas metadata, fixed writer options: the bytes depend only on the data
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def tables(out, seed, sf):
    """Registry relations at scale factor `sf` (sf 0.01 = 60 k lineitem rows)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(1_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = max(10, int(15_000 * sf)), int(50_000 * sf), int(50_000 * sf)

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}), f"{out}/nation.parquet")

    r = _rng(seed, 1)
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], n_cust)}), f"{out}/customer.parquet")
    r = _rng(seed, 2)
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    r = _rng(seed, 3)
    adj = np.array(["small", "new", "red", "large", "hot", "cold", "blue", "old"])
    noun = np.array(["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"])
    keys = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(r.choice(adj, n_part), " "), r.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": r.choice(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)}), f"{out}/part.parquet")
    r = _rng(seed, 4)
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], n_ord)}), f"{out}/orders.parquet")
    r = _rng(seed, 5)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04")}), f"{out}/lineitem.parquet")
    r = _rng(seed, 6)
    # 30 days of events at increasing timestamps
    gaps = r.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev).cumsum()
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + gaps.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": r.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}), f"{out}/events.parquet")

    r = _rng(seed, 7)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        # one document in eight is an edited copy of an earlier one, so the
        # near-duplicate operators find real pairs and clusters
        if i >= 8 and r.random() < 0.125:
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = vocab[r.integers(0, len(vocab))]
        else:
            words = list(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))])
        texts.append(" ".join(words))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "en", "en", "de", "fr", "es", "zh"], n_docs),
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    r = _rng(seed, 8)
    vec = r.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32))})
    pq.write_table(emb, f"{out}/embeddings.parquet", compression="snappy")


# ---------------------------------------------------------------- himalayan

MEMBER_COLS = (
    "EXPID MEMBID PEAKID MYEAR MSEASON FNAME LNAME SEX AGE BIRTHDATE YOB CALCAGE "
    "CITIZEN STATUS RESIDENCE OCCUPATION LEADER DEPUTY BCONLY NOTTOBC SUPPORT DISABLED "
    "HIRED SHERPA TIBETAN MSUCCESS MCLAIMED MDISPUTED MSOLO MTRAVERSE MSKI MPARAPENTE "
    "MSPEED MHIGHPT MPERHIGHPT MSMTDATE1 MSMTDATE2 MSMTDATE3 MSMTTIME1 MSMTTIME2 "
    "MSMTTIME3 MROUTE1 MROUTE2 MROUTE3 MASCENT1 MASCENT2 MASCENT3 MO2USED MO2NONE "
    "MO2CLIMB MO2DESCENT MO2SLEEP MO2MEDICAL MO2NOTE DEATH DEATHDATE DEATHTIME DEATHTYPE "
    "DEATHHGTM DEATHCLASS AMSSYMPTOMS WEATHER INJURY INJURYDATE INJURYTIME INJURYTYPE "
    "INJURYHGTM DEATHRTE MSMTBID MSMTTERM HCN MCHKSUM MSMTNOTE1 MSMTNOTE2 MSMTNOTE3 "
    "DEATHNOTE MEMBERMEMO NECROLOGY").split()
EXPED_COLS = (["EXPID", "PEAKID", "YEAR", "SEASON", "HOST", "ROUTE1", "SUCCESS1"] +
              [f"X{i:02d}" for i in range(59)])
PEAK_COLS = ["PEAKID", "PKNAME", "HEIGHTM"] + [f"P{i:02d}" for i in range(22)]
INDICATORS = ["NY.GDP.PCAP.CD", "HD.HCI.OVRL", "IT.NET.USER.ZS", "SH.MED.PHYS.ZS", "PV.EST"]
YEARS = range(1960, 2024)
N_PEAKS = 480
N_COUNTRIES = 60


def _country_names(r):
    syll = ["ka", "lo", "ri", "ne", "ta", "mo", "su", "va", "dor", "len", "bar", "ist"]
    names = set()
    while len(names) < N_COUNTRIES:
        names.add("".join(r.choice(syll, int(r.integers(2, 4)))).capitalize())
    return sorted(names)


def _typo(r, s):
    i = int(r.integers(0, len(s)))
    op = int(r.integers(0, 3))
    if op == 0:
        return s[:i] + s[i + 1:]
    if op == 1:
        return s[:i] + s[i] + s[i:]
    return s[:i] + chr(ord("a") + int(r.integers(0, 26))) + s[i + 1:]


def himalayan(out, seed, members):
    """The four pipeline extracts; returns the counts the star schema must show."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 11)
    countries = _country_names(r)
    codes = [f"C{i:02d}" for i in range(N_COUNTRIES)]

    # World Bank long records: one row per (country, year, indicator), a few
    # duplicated rows (pivot mean), null runs at the start, inside and at the end
    rows = []
    for code, name in zip(codes, countries):
        for ind in INDICATORS:
            base = float(r.uniform(1, 1000))
            nulls = r.random(len(YEARS)) < 0.15
            if r.random() < 0.3:
                nulls[: int(r.integers(1, 6))] = True
            for y, is_null in zip(YEARS, nulls):
                v = None if is_null else round(base * (1 + 0.02 * (y - 1960)) +
                                               float(r.normal(0, 5)), 3)
                rows.append((code, name, y, ind, v))
                if r.random() < 0.02:
                    rows.append((code, name, y, ind, None if v is None else v + 1.0))
    wb = pd.DataFrame(rows, columns=["COUNTRYCODE", "COUNTRYNAME", "YEAR", "INDICATORCODE",
                                     "VALUE"])
    wb.to_csv(f"{out}/world_bank.csv", index=False)

    peak_ids = [f"P{i:03d}" for i in range(N_PEAKS)]
    peaks = pd.DataFrame({"PEAKID": peak_ids,
                          "PKNAME": [f"Peak {i}" for i in range(N_PEAKS)],
                          "HEIGHTM": r.integers(4800, 9200, N_PEAKS)})
    for c in PEAK_COLS[3:]:
        peaks[c] = ""
    peaks.to_csv(f"{out}/peaks.csv", index=False)

    n_exp = max(1, members // 8)
    exp_ids = np.array([f"E{i:07d}" for i in range(n_exp)])
    dup = r.integers(0, n_exp, n_exp // 20)
    ex_ids = np.concatenate([exp_ids, exp_ids[dup]])
    exp = pd.DataFrame({
        "EXPID": ex_ids,
        "PEAKID": np.array(peak_ids)[r.integers(0, N_PEAKS, len(ex_ids))],
        "YEAR": r.integers(1960, 2024, len(ex_ids)),
        "SEASON": r.integers(1, 5, len(ex_ids)),
        "HOST": r.integers(1, 4, len(ex_ids)),
        "ROUTE1": np.char.add("Route ", r.integers(0, 40, len(ex_ids)).astype(str)),
        "SUCCESS1": r.integers(0, 2, len(ex_ids))})
    for c in EXPED_COLS[7:]:
        exp[c] = ""
    exp.to_csv(f"{out}/expeditions.csv", index=False)

    # citizenship: mostly exact country names, some seeded typos
    cit = np.array(countries)[r.integers(0, N_COUNTRIES, members)]
    typo_at = np.flatnonzero(r.random(members) < 0.1)
    cit = cit.astype(object)
    for i in typo_at:
        cit[i] = _typo(r, cit[i])
    myear = r.integers(1960, 2024, members)
    mseason = r.integers(1, 5, members)
    age = r.integers(0, 95, members)
    cols = {
        "EXPID": exp_ids[r.integers(0, n_exp, members)],
        # MEMBID keeps (EXPID, LNAME, FNAME) unique, so the fact key is total
        "MEMBID": np.arange(members).astype(str),
        "PEAKID": np.array(peak_ids)[r.integers(0, N_PEAKS, members)],
        "MYEAR": myear, "MSEASON": mseason,
        "FNAME": np.char.add("F", np.arange(members).astype(str)),
        "LNAME": np.char.add("L", r.integers(0, 5000, members).astype(str)),
        "SEX": r.choice(["M", "F", "X", ""], members, p=[0.6, 0.3, 0.05, 0.05]),
        "YOB": myear - age, "CALCAGE": age, "CITIZEN": cit,
        "MSUCCESS": r.integers(0, 2, members), "MO2USED": r.integers(0, 2, members),
        "HIRED": r.integers(0, 2, members), "DEATH": (r.random(members) < 0.01).astype(int)}
    m = pd.DataFrame({c: cols.get(c, "") for c in MEMBER_COLS})
    m.to_csv(f"{out}/members.csv", index=False, quoting=csv.QUOTE_MINIMAL)

    expect = {
        "members": members,
        "DIM_Peak": N_PEAKS,
        "DIM_Expedition": int(len(np.unique(ex_ids))),
        "DIM_Date": int(len(set(zip(myear.tolist(), mseason.tolist())))),
        "DIM_CountryIndicator": int(len(wb[["COUNTRYCODE", "YEAR"]].drop_duplicates())),
    }
    with open(f"{out}/expect.json", "w") as f:
        json.dump(expect, f, sort_keys=True)
    return expect
