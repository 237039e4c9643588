"""The counting application — the reference's end-to-end lifecycle
(CountingApp.scala:17-57, §3 of SURVEY.md) on the DataFrame engine:

    tune from history → run stop-word word count → overwrite sink →
    record this run's metrics

One tuned lifecycle (``tuner.recommend.tuned_run``) for every run; the
reference split local/cluster into two Apps where only the local one
tuned. Divergences from the reference, on purpose:
- args are (input, output, metrics_dir) — the reference read its
  metrics dir from ``args(3)`` leaving position 2 dead
  (CountingApp.scala:19-36); we don't reproduce the off-by-one.
- sink overwrite is ``mode("overwrite")`` — no manual FileSystem
  delete (S4; CountingApp.scala:88-93).
- output is parquet (columnar at rest), not ``saveAsTextFile``.

Usage:  python -m robin_sparkles_spark.app INPUT OUTPUT [METRICS_DIR]
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from .operators.wordcount import with_stop_words_filtered
from .session import get_spark
from .sources.tables import read_text
from .tuner.recommend import tuned_run

APP_NAME = "my_awesome_app"  # reference parity: CountingApp.scala:40


def run_counting_app(
    spark: SparkSession, input_path: str, output_path: str, metrics_dir: str
) -> int:
    """Run one tuned word-count pass; returns the partition count used."""

    def job(s: SparkSession) -> None:
        counts = with_stop_words_filtered(read_text(s, input_path))
        counts.write.mode("overwrite").parquet(output_path)

    return tuned_run(spark, metrics_dir, APP_NAME, job).partitions


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    input_path, output_path = argv[0], argv[1]
    metrics_dir = argv[2] if len(argv) > 2 else "tmp/metrics"
    spark = get_spark(app_name=APP_NAME)
    partitions = run_counting_app(spark, input_path, output_path, metrics_dir)
    print(f"ran with spark.sql.shuffle.partitions={partitions}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
