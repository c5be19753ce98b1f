"""spark-submit entry point (north_rule: ships as --py-files package).

Usage:
  python -m sparkextract.cli package --out dist/sparkextract.zip
  spark-submit --py-files dist/sparkextract.zip -m sparkextract.cli run \
      --input <transcripts parquet/iceberg path> --output <dir> \
      [--snapshot <id>] [--buckets 256]   # snapshot defaults to the
      # content-addressed hash of the input file listing; rerunning on
      # unchanged input is a no-op resume

``run`` executes the fused extraction engine (fused.py) with
per-partition lineage and exact resume (lineage.py). ``package`` builds
the --py-files zip.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def build_zip(out: str) -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.dirname(os.path.abspath(out)) or ".", exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for fn in sorted(os.listdir(pkg_dir)):
            if fn.endswith(".py"):
                z.write(os.path.join(pkg_dir, fn), f"sparkextract/{fn}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sparkextract")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("package")
    p.add_argument("--out", default="dist/sparkextract.zip")

    r = sub.add_parser("run")
    r.add_argument("--input", required=True)
    r.add_argument("--output", required=True)
    r.add_argument(
        "--snapshot", default=None,
        help="input snapshot id; default: content-addressed from the input "
             "file listing (lineage.snapshot_id)",
    )
    r.add_argument("--buckets", type=int, default=256)
    r.add_argument("--master", default=None)
    r.add_argument("--repartition", type=int, default=0)

    args = ap.parse_args(argv)
    if args.cmd == "package":
        print(build_zip(args.out))
        return 0

    from .lineage import run_with_lineage
    from .session import build_session

    spark = build_session(app="sparkextract-run", master=args.master)
    try:
        transcripts = spark.read.parquet(args.input)
        summary = run_with_lineage(
            spark,
            transcripts,
            args.output,
            snapshot=args.snapshot,
            buckets=args.buckets,
            repartition=args.repartition,
        )
        print(json.dumps(summary))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
