"""Parallelism probe at a synthesized larger scale (round 13,
VERDICT_r12 task #5).

The sf0.1 bench cannot evidence the 100 TB parallelism story: round
12's driver data showed the full suite running FASTER at 8 cores than
at 32 because 2-3 s queries are dominated by fixed per-query stage
machinery, not data. This tool synthesizes an m× replica of the
largest available fixture (disjoint key-shifted copies of every
table — join fan-outs and group cardinalities per copy are preserved,
nation/region stay shared); re-timing the hottest HEADLINE labels on
it with tools/retime.py makes an 8-vs-32-core comparison measure
computation that actually saturates cores.

    python tools/scale_probe.py synth [sf_dir] [mult] [out_dir]
    SPARK_GRAFT_CPUS=8 python tools/retime.py <synth_dir> label...

The probe is EVIDENCE tooling only: bench.py and the driver contract
are untouched; nothing here persists results across runs (the synth
dir is an explicit argument, rebuilt at will).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# per-table key columns shifted by i * (max(key)+1) per replica copy i;
# FK columns shift by the REFERENCED table's base so every copy is a
# disjoint, internally consistent relational universe
_SHIFTS = {
    "customer": {"c_custkey": "customer"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
    "events": {"event_id": "events", "user_id": "events_user"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supplier"},
}
_COPY = ("nation", "region")


def synth(sf_dir: str, mult: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from mongo_cdc_spark.session import get_spark

    spark = get_spark("scale_probe_synth")
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    # key bases (max+1) per key domain
    bases: dict[str, int] = {}
    for tbl, cols in _SHIFTS.items():
        df = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        for col, dom in cols.items():
            if dom.startswith(tbl) or dom == tbl or dom == "events_user":
                mx = df.agg(F.max(col)).collect()[0][0]
                bases[dom] = max(bases.get(dom, 0), int(mx) + 1)
    for tbl, cols in _SHIFTS.items():
        df = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        copies = []
        for i in range(mult):
            c = df
            for col, dom in cols.items():
                c = c.withColumn(
                    col, (F.col(col) + F.lit(i * bases[dom]))
                    .cast(dict(df.dtypes)[col]))
            copies.append(c)
        res = copies[0]
        for c in copies[1:]:
            res = res.unionByName(c)
        res.coalesce(max(1, mult)).write.mode("overwrite").parquet(
            str(out / f"{tbl}.parquet"))
        print(f"# synth {tbl}: x{mult}", file=sys.stderr)
    for tbl in _COPY:
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet") \
            .write.mode("overwrite").parquet(str(out / f"{tbl}.parquet"))
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["synth"]:
        args.pop(0)
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        mult = int(args[1]) if len(args) > 1 else 4
        out_dir = args[2] if len(args) > 2 else "/tmp/sf_synth"
        synth(sf_dir, mult, out_dir)
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
