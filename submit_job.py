"""spark-submit entry script: run the extraction job from a --py-files
package (north_rule ship mode). Build first with
``python -m sparkextract.cli package`` (writes dist/sparkextract.zip from
the current sources; the zip is not tracked), then:

  spark-submit --master local[8] --py-files dist/sparkextract.zip \
      submit_job.py --input <transcripts.parquet> --output <dir> --snapshot s1
"""
import argparse

from pyspark.sql import SparkSession

from sparkextract.lineage import run_with_lineage

if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args()
    spark = SparkSession.builder.appName("sparkextract-submit").getOrCreate()
    import json

    print(
        json.dumps(
            run_with_lineage(
                spark,
                spark.read.parquet(args.input),
                args.output,
                snapshot=args.snapshot,
                buckets=args.buckets,
            )
        )
    )
    spark.stop()
