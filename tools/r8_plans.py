"""Capture .explain("formatted") for the declared full-text queries (the
gate configuration: distributed plans, driver path off) plus the bench-side
distributed match — used for the r8 before/after plan evidence in
plans/r08/ (the judge checks plan claims against these files).

Usage: python -m tools.r8_plans <outdir> [sf_dir]
"""
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    outdir = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    os.makedirs(outdir, exist_ok=True)
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry
    qs = entry.queries()
    targets = ["ft_match_or", "ft_match_msm60", "ft_match_phrase",
               "ft_fuzzy", "ft_fuzzy_multiword", "ft_term_exact",
               "ft_wildcard", "ft_url_match"]
    for name in targets:
        df = qs[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
