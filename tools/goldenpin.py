"""Compute (and check stability of) the driver-style value hash of the
no-oracle driver query, kg_spectral, so tests can pin it as a committed
golden.

Usage: python tools/goldenpin.py [cores] [sf_dir]
sf_dir defaults to the sf0.001 tier, the one tests/test_invariants.py pins.
Prints one line per query: <name> <rows> <md5-of-normed-rows>.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def value_hash(pdf) -> str:
    """The driver-compare normalization: sort columns by name, round floats
    to 6 decimals, stringify, sort rows, md5."""
    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype) in ("float64", "float32"):
            df[c] = df[c].round(6)
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False)
    )
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry
    from mmgraphrag_spark.session import get_spark

    spark = get_spark("goldenpin", cores=cores)
    qs = entry.queries()
    for name in ("kg_spectral",):
        pdf = qs[name](spark, sf_dir).toPandas()
        print(name, len(pdf), value_hash(pdf), flush=True)


if __name__ == "__main__":
    main()
