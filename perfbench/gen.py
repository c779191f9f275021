"""Seeded inputs for the benchmark.

Table sets (`tables`):
  - `base`: the committed sf0.01 tables in data/base, read in place;
  - `smoke`: the committed sf0.001 tables in data/smoke, read in place;
  - `x10`: ten key-shifted copies of data/base, written by
    tools/make_sf1.py with its default RNG offset. It does not depend on
    the seed, so DuckDB's oracle results over it are computed once per
    checkout (check.py); the seed orders the curation keys instead.

The feeder inputs (`feed`: pages, correction sheets, plan) come from a
table set's orders and customer tables and the seed.

Derived files are cached under a directory named by a hash of the
script that writes them (and by the seed, for the feed). Equal arguments
give byte-identical files.
"""
import hashlib
import json
import os
import random
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASES = {"base": os.path.join(HERE, "data", "base"),
         "smoke": os.path.join(HERE, "data", "smoke")}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WAVES = 10
PAGE_ROWS = 250


def _version(*scripts):
    h = hashlib.sha256()
    for s in scripts:
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def tables(cache_dir, name, root):
    """The directory of table set `name`, derived on first use."""
    if name in BASES:
        return BASES[name]
    assert name == "x10", name
    make_sf1 = os.path.join(root, "tools", "make_sf1.py")
    dst = os.path.join(cache_dir, f"x10-{_version(make_sf1)}")
    done = os.path.join(dst, "_DONE")
    if not os.path.exists(done):
        env = dict(os.environ, GRAFT_SF_SRC=BASES["base"], GRAFT_RNG_OFFSET="0")
        subprocess.run([sys.executable, make_sf1, dst], env=env, check=True,
                       stdout=subprocess.DEVNULL)
        open(done, "w").close()
    return dst


def row_counts(data_dir):
    con = duckdb.connect()
    out = {t: con.execute(f"SELECT count(*) FROM read_parquet('{data_dir}/{t}.parquet')")
           .fetchone()[0] for t in TABLES}
    con.close()
    return out


def feed(cache_dir, data_dir, seed):
    """The feeder inputs over `data_dir`, cached; returns their directory."""
    dst = os.path.join(cache_dir, f"feed-{os.path.basename(data_dir)}-s{seed}-"
                                  f"{_version(os.path.abspath(__file__))}")
    if not os.path.exists(os.path.join(dst, "plan.json")):
        derive_feed(data_dir, dst, seed)
    return dst


def derive_feed(data_dir, dst, seed):
    """The feeder sweep's inputs over `data_dir`'s orders + customer.

    Wave w holds the orders with o_orderkey % 10 == w, as key-ordered
    TSV pages under pages/w<w>. The first feed of a wave sees the
    orders up to a seeded key cut (the export so far), the second all
    of them (exports are cumulative). Each feed carries a correction
    sheet (corr/w<w>-f<f>.tsv): mostly keys of that feed, plus in the
    first feed a few keys past the cut, which the MERGE inserts.
    """
    rng = random.Random(seed)
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    rows = con.execute(f"""
      SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment, o.o_orderstatus,
        o.o_totalprice, strftime(o.o_orderdate, '%d.%m.%Y %H:%M:%S') AS ivdate,
        o.o_orderpriority
      FROM read_parquet('{data_dir}/orders.parquet') o
      JOIN read_parquet('{data_dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
      ORDER BY o.o_orderkey""").fetchall()
    con.close()
    waves = {w: [] for w in range(WAVES)}
    for r in rows:
        waves[r[0] % WAVES].append(r)
    plan = {"waves": WAVES, "page_rows": PAGE_ROWS, "cut": {}, "pages": {},
            "sheet_rows": {}, "feed_order": []}
    for w, wrows in waves.items():
        pdir = os.path.join(dst, "pages", f"w{w}")
        os.makedirs(pdir, exist_ok=True)
        n_pages = 0
        for p in range(0, len(wrows), PAGE_ROWS):
            with open(os.path.join(pdir, f"page-{n_pages:05d}.tsv"), "w") as f:
                for r in wrows[p:p + PAGE_ROWS]:
                    # a blank segment is the export's "no answer"
                    seg = "  " if rng.random() < 0.03 else r[3]
                    vals = [r[0], r[1], r[2], seg, r[4], repr(r[5]), r[6], r[7],
                            f"proj_w{w:02d}"]
                    f.write("\t".join(str(v) for v in vals) + "\n")
            n_pages += 1
        with open(os.path.join(pdir, "_PAGES"), "w") as f:
            f.write(f"pages={n_pages}\nrows={len(wrows)}\n")
        cut_i = int(len(wrows) * rng.uniform(0.55, 0.85))
        cut = wrows[cut_i][0]
        plan["cut"][str(w)] = cut
        plan["pages"][str(w)] = n_pages
        keys1 = [r[0] for r in wrows if r[0] <= cut]
        later = [r[0] for r in wrows if r[0] > cut]
        all_keys = [r[0] for r in wrows]
        sheets = {1: rng.sample(keys1, max(1, len(keys1) // 25)) +
                  rng.sample(later, max(1, len(later) // 100)),
                  2: rng.sample(all_keys, max(1, len(all_keys) // 25))}
        os.makedirs(os.path.join(dst, "corr"), exist_ok=True)
        for f_no, keys in sheets.items():
            plan["sheet_rows"][f"w{w}-f{f_no}"] = len(keys)
            with open(os.path.join(dst, "corr", f"w{w}-f{f_no}.tsv"), "w") as f:
                f.write("o_orderkey\twave\tstatus\tamount\n")
                for k in sorted(keys):
                    f.write(f"{k}\t{w}\tcorrected{f_no}\t{rng.randrange(0, 32768)}\n")
    for f_no in (1, 2):
        order = list(range(WAVES))
        rng.shuffle(order)
        plan["feed_order"] += [[w, f_no] for w in order]
    with open(os.path.join(dst, "plan.json"), "w") as f:
        json.dump(plan, f, sort_keys=True)
    return plan
