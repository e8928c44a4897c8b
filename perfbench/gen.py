"""Seeded input generators for the benchmark.

Two input sets, each a pure function of (size, seed):

* ``write_dopi`` writes the three EP1 inputs (institutions, users and a
  DOPI-shaped observations CSV set in Latin-1) plus ``manifest.json``, which
  records what was planted: rows per quarantine rule, full duplicates,
  placeholder-January and day-clamp rows, Latin-1 author names and
  multi-version SCD2 users, and the counts the pipeline must produce.
* ``write_tpch`` writes the TPC-H-shaped parquet tables the analytical
  reports and the graph queries read, with the column names and physical
  types of the tables those queries were written against.

Every planted bad observation row fails exactly one validation rule, so the
quarantine holds exactly one entry per planted row, and every valid row's
author matches exactly one user, so every valid row yields one observation.
"""
import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SUB_TYPES = ["Free", "Pro", "HiveMind", "FieldScout", "BeeWatch+"]
# Latin-1 stems: the observations file is read as ISO-8859-1, the users
# file as UTF-8, so these names only match if both decodings are right.
LATIN1_STEMS = ["Müller", "Gonçalves", "Øster", "Núñez", "Åberg", "Brühl"]
N_INSTITUTIONS = 40
N_CITIES = 25
N_COUNTIES = 8

# Quarantine rules in the order graft.etl.Validate applies them; the first
# is first-match, the rest all-matches. Keys are the benchmark's rule names.
OBS_RULES = ["missing_required", "bad_latlon", "bad_interactions",
             "bad_date", "bad_pollination", "bad_pollen_nectar"]

DOPI_HEADER = [
    "authors", "title", "journal", "pub_year", "pub_vol", "doi", "methodology",
    "pollinator_survey", "plant_survey", "nbn_pollinator_code",
    "col_pollinator_code", "pollinator_species", "caste", "nbn_plant_code",
    "col_plant_code", "plant_species", "interactions", "date", "month", "year",
    "grid_letter", "grid_code", "latitude", "longitude", "habitat",
    "pollination", "pollen", "nectar", "record", "articleurl"]
USERS_HEADER = ["full_name", "username", "email", "institution",
                "affiliation_start", "city", "county", "subscription_type",
                "subscription_start", "join_date"]


def last_name(i: int) -> str:
    """Fixed-width last names, so no name is a substring of another and the
    author substring join matches exactly one user."""
    if i % 10 == 3:
        return f"{LATIN1_STEMS[(i // 10) % len(LATIN1_STEMS)]}{i:05d}x"
    return f"Name{i:05d}x"


def _city(k: int) -> tuple[str, str]:
    return f"City{k}", f"County{k % N_COUNTIES}"


def write_dopi(out_dir: str, n_obs: int, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    epoch = dt.date(2015, 1, 1)

    # ---- institutions: all valid, plus rows with no name (quarantined)
    n_bad_inst = 2 + int(rng.integers(0, 3))
    inst_lines = ["institution,city,county"]
    for i in range(N_INSTITUTIONS):
        city, county = _city(i % N_CITIES)
        inst_lines.append(f"Institute {i},{city},{county}")
    for k in range(n_bad_inst):
        city, county = _city(k)
        inst_lines.append(f",{city},{county}")
    with open(os.path.join(out_dir, "institutions.csv"), "w", encoding="utf-8") as f:
        f.write("\n".join(inst_lines) + "\n")

    # ---- users: 1-3 SCD2 versions each, plus quarantined bad rows
    n_users = max(50, n_obs // 50)
    user_lines = [",".join(USERS_HEADER)]
    n_versions = 0
    multi_version_users = 0
    for i in range(n_users):
        join = epoch + dt.timedelta(days=int(rng.integers(0, 1500)))
        city, county = _city(i % N_CITIES)
        versions = int(rng.choice([1, 2, 3], p=[0.6, 0.3, 0.1]))
        multi_version_users += versions > 1
        start = join
        inst = int(rng.integers(0, N_INSTITUTIONS))
        sub = int(rng.integers(0, len(SUB_TYPES)))
        for v in range(versions):
            user_lines.append(",".join([
                f"A. B. {last_name(i)}", f"user{i}", f"user{i}@example.org",
                f"Institute {inst}", start.isoformat(), city, county,
                SUB_TYPES[sub], start.isoformat(), join.isoformat()]))
            n_versions += 1
            start = start + dt.timedelta(days=int(rng.integers(200, 500)))
            inst = (inst + 1 + int(rng.integers(0, N_INSTITUTIONS - 1))) % N_INSTITUTIONS
            sub = (sub + 1 + int(rng.integers(0, len(SUB_TYPES) - 1))) % len(SUB_TYPES)
    n_bad_users = 3 + int(rng.integers(0, 3))
    for k in range(n_bad_users):
        email = "" if k % 2 == 0 else f"bad{k}@example.org"
        date = "2020-01-01" if k % 2 == 0 else "2020-13-45"
        user_lines.append(",".join([
            f"Z. Q. Zzbad{k:03d}q", f"baduser{k}", email, "Institute 0",
            date, "City0", "County0", "Free", date, date]))
    with open(os.path.join(out_dir, "users.csv"), "w", encoding="utf-8") as f:
        f.write("\n".join(user_lines) + "\n")

    # ---- observations: one row per slot, then each slot's kind applied
    n_bad = max(3, n_obs // 200)
    n_dups = max(5, n_obs // 100)
    n_variant = max(3, n_obs // 200)
    # exact planted counts: a fixed number of slots per kind, shuffled
    kinds = ([f"bad:{r}" for r in OBS_RULES for _ in range(n_bad)] +
             ["dup"] * n_dups + ["no_month"] * (2 * n_variant) +
             ["no_year"] * n_variant + ["day31"] * n_variant +
             ["feb"] * n_variant)
    kinds += ["valid"] * max(0, n_obs - len(kinds))
    kinds = np.array(kinds)[rng.permutation(len(kinds))]
    n = len(kinds)

    def pick(options, size=n):
        return np.array(options, dtype=object)[rng.integers(0, len(options), size)]

    def ints(lo, hi):
        return rng.integers(lo, hi, n)

    user, pk, lk = ints(0, n_users), ints(0, 300), ints(0, 400)
    col = {c: np.full(n, v, dtype=object) for c, v in zip(DOPI_HEADER, [
        "", "t", "j", "2020", "1", "doi", "m", "ps", "pls", "", "cp", "", "",
        "", "cpl", "", "", "", "", "", "G", "GC", "", "", "", "", "", "",
        "rec", "url"])}
    col["authors"] = np.array([f"Field note by {last_name(u)}" for u in user], dtype=object)
    col["nbn_pollinator_code"] = np.array([f"NBNP{k:04d}" for k in pk], dtype=object)
    col["pollinator_species"] = np.array([f"Bombus varietas{k}" for k in pk], dtype=object)
    col["caste"] = pick(["worker", "queen", "drone", "NA"])
    col["nbn_plant_code"] = np.array([f"NBNL{k:04d}" for k in lk], dtype=object)
    col["plant_species"] = np.array([f"Plantago forma{k}" for k in lk], dtype=object)
    col["interactions"] = ints(0, 9).astype(str).astype(object)
    col["date"] = ints(1, 29).astype(str).astype(object)
    col["month"] = ints(1, 13).astype(str).astype(object)
    col["year"] = ints(2015, 2023).astype(str).astype(object)
    col["latitude"] = np.array([f"{v / 10:.1f}" for v in ints(500, 700)], dtype=object)
    col["longitude"] = np.array([f"{v / 10:.1f}" for v in ints(-50, 250)], dtype=object)
    col["habitat"] = pick(["urban", "meadow", "forest", "farmland", "NA"])
    col["pollination"] = pick(["1", "2", "3", "4", "NA"])
    col["pollen"] = pick(["Y", "N"])
    col["nectar"] = pick(["Y", "N"])

    def at(kind):
        return np.flatnonzero(kinds == kind)

    col["plant_species"][at("bad:missing_required")] = "NA"
    col["latitude"][at("bad:bad_latlon")] = "95.5"
    col["interactions"][at("bad:bad_interactions")] = "lots"
    for i, which in zip(at("bad:bad_date"), ints(0, 3)):
        col[["date", "month", "year"][which]][i] = ["32", "13", "1700"][which]
    col["pollination"][at("bad:bad_pollination")] = "7"
    for i, c in zip(at("bad:bad_pollen_nectar"), pick(["pollen", "nectar"])):
        col[c][i] = "maybe"
    col["month"][at("no_month")] = "NA"
    col["year"][at("no_year")] = "NA"
    day31 = at("day31")
    col["date"][day31] = "31"
    col["month"][day31] = pick(["4", "6", "9", "11"], len(day31))
    feb = at("feb")
    col["date"][feb] = rng.integers(29, 32, len(feb)).astype(str)
    col["month"][feb] = "2"

    rows: list[str] = []
    dup_positions = []
    for kind, line in zip(kinds, map(",".join, zip(*(col[c] for c in DOPI_HEADER)))):
        rows.append(line)
        if kind == "dup":
            # raw_data_id is the 1-based row position in file order
            dup_positions.append([len(rows), len(rows) + 1])
            rows.append(line)

    obs_dir = os.path.join(out_dir, "observations")
    os.makedirs(obs_dir, exist_ok=True)
    n_files = 4
    per = -(-len(rows) // n_files)
    header = ",".join(DOPI_HEADER)
    for k in range(n_files):
        chunk = rows[k * per:(k + 1) * per]
        with open(os.path.join(obs_dir, f"observations_{k:02d}.csv"), "w",
                  encoding="latin-1") as f:
            f.write("\n".join([header] + chunk) + "\n")

    quarantine = {r: n_bad for r in OBS_RULES}
    quarantine["institution"] = n_bad_inst
    quarantine["user"] = n_bad_users
    n_valid = len(rows) - n_bad * len(OBS_RULES)
    manifest = {
        "seed": seed,
        "staged_rows": len(rows),
        "quarantine": quarantine,
        "valid_rows": n_valid,
        "observations": n_valid,
        "duplicate_pairs": dup_positions,
        "placeholder_january_rows": 2 * n_variant,
        "null_date_rows": n_variant,
        "day_clamp_rows": 2 * n_variant,
        "users": n_users,
        "multi_version_users": multi_version_users,
        "latin1_users": sum(1 for i in range(n_users) if i % 10 == 3),
        "user_versions": n_versions,
        "institutions": N_INSTITUTIONS + 1,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


# --------------------------------------------------------------- TPC-H shape

_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "cap"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(pd.DataFrame(cols), schema=schema,
                                 preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, start: str, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_tpch(out_dir: str, sf: float, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def sch(*fields):
        return pa.schema(list(fields))

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
           sch(("r_regionkey", i32), ("r_name", s)))
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           sch(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": rng.integers(-99999, 1000000, n_cust) / 100,
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)},
           sch(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
               ("c_acctbal", f64), ("c_mktsegment", s)))
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": rng.integers(-99999, 1000000, n_supp) / 100},
           sch(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
               ("s_acctbal", f64)))
    _write(out_dir, "part",
           {"p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPE, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10},
           sch(("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
               ("p_size", i32), ("p_retailprice", f64)))
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": rng.integers(100000, 50000000, n_ord) / 100,
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord)},
           sch(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
               ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)))
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": rng.integers(90000, 10500000, n_line) / 100,
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)},
           sch(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
               ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
               ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
               ("l_linestatus", s), ("l_shipdate", ts)))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line}
