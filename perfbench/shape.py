"""Shape statistics of the SQL tables, to compare generated with real ones.

    python3 perfbench/shape.py REFERENCE_DIR [--seed N] [--scale S]

REFERENCE_DIR holds ``events.parquet``, ``lineitem.parquet`` and
``documents.parquet`` (the repository's TPC-H-like test tables at the same
scale). Prints one JSON object: each statistic with its reference and
generated value. The statistics are the ones that set a query's cost: row
counts, distinct keys, rows per key, value distributions, vocabulary size,
document length and the duplicate rate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402

_STATS = {
    "events": """select count(*) n_rows, count(distinct user_id) users,
        count(distinct event_type) event_types,
        count(distinct props) props,
        round((epoch(max(ts)) - epoch(min(ts))) / 86400, 2) ts_span_days,
        round(avg(value), 1) value_mean, round(median(value), 1) value_median,
        round(stddev(value), 1) value_sd
        from events""",
    "events_per_user": """select min(c) lo, median(c) mid, max(c) hi
        from (select user_id, count(*) c from events group by 1)""",
    "lineitem": """select count(*) n_rows, count(distinct l_orderkey) orders,
        max(l_orderkey) + 1 orderkey_range, count(distinct l_partkey) parts,
        count(distinct l_suppkey) suppliers,
        max(l_linenumber) max_linenumber,
        round(median(l_extendedprice), -2) price_median,
        cast(min(l_shipdate) as date)::varchar first_ship,
        cast(max(l_shipdate) as date)::varchar last_ship
        from lineitem""",
    "lines_per_order": """select min(c) lo, median(c) mid, max(c) hi
        from (select l_orderkey, count(*) c from lineitem group by 1)""",
    "lines_per_part": """select min(c) lo, median(c) mid, max(c) hi
        from (select l_partkey, count(*) c from lineitem group by 1)""",
    "documents": """select count(*) n_rows, count(distinct text) texts,
        count(distinct source) sources,
        round(avg((lang = 'en')::int), 2) en_share,
        count(*) filter (where text like '% dup') marked_dups
        from documents""",
}


def stats(tables_dir: str) -> dict:
    con = duckdb.connect()
    for t in inputs.SQL_TABLES:
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    out = {}
    for group, sql in _STATS.items():
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        for k, v in zip(names, cur.fetchone()):
            out[f"{group}.{k}"] = float(v) if isinstance(v, (int, float)) else v
    docs = [t.split() for (t,) in
            con.execute("select text from documents").fetchall()]
    lens = np.asarray([len(w) for w in docs])
    out["documents.vocabulary"] = len({w for ws in docs for w in ws})
    out["documents.words_min"] = int(lens.min())
    out["documents.words_median"] = float(np.median(lens))
    out["documents.words_max"] = int(lens.max())
    # a marked duplicate is another document's text plus " dup"
    texts = {" ".join(w) for w in docs if w[-1:] != ["dup"]}
    out["documents.exact_copies_of_marked_dups"] = sum(
        " ".join(w[:-1]) in texts for w in docs if w[-1:] == ["dup"])
    con.close()
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("reference")
    p.add_argument("--seed", type=int, default=301)
    p.add_argument("--scale", type=float, default=0.01)
    args = p.parse_args(argv)
    ref = stats(args.reference)
    gen = stats(inputs.sql_tables(args.seed, args.scale))
    print(json.dumps({"seed": args.seed, "scale": args.scale,
                      "stats": {k: {"reference": ref[k], "generated": gen[k]}
                                for k in ref}}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
