"""Session-factory behaviour: module-level UDFs survive a session restart
in the same process, and small shuffles coalesce to more than one
partition so the curate stages after the regroup run on every core."""
import os
import subprocess
import sys
import textwrap

from pdf_extractor_spark.plans.training_data import iter_curate_stages
from pdf_extractor_spark.sources.transcripts import transcripts_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESTART = textwrap.dedent("""
    from pdf_extractor_spark.functions.udfs import extract_numbers_udf
    from pdf_extractor_spark.session import get_spark

    for _ in range(2):
        s = get_spark(master="local[2]", shuffle_partitions=2)
        t = s.range(4).selectExpr("cast(id * 7 as string) as t")
        print(sorted(r[0][0] for r in t.select(extract_numbers_udf("t"))
                     .collect()))
        s.stop()
""")


def test_module_udfs_survive_session_restart():
    """A UDF defined at import keeps the JVM function of the first session
    unless get_spark drops it; the second session's tasks would then log a
    broken pipe to the first session's accumulator server."""
    run = subprocess.run(
        [sys.executable, "-c", _RESTART],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.split("\n")[:2] == ["['0', '14', '21', '7']"] * 2
    assert "Failed to update accumulator" not in run.stderr


def test_curate_stages_use_more_than_one_partition(spark):
    """200 generated conversations write an assembly shuffle of about
    1.8 MB (seed 3), above defaultParallelism x 64 KB; the later stages'
    shuffles are 140-330 KB. Coalesced to 1 MB partitions, every stage
    ran as one task; every stage frame, the lazy final one included, must
    now keep more than one partition."""
    t = transcripts_df(spark, 200, seed=3)
    parts = {
        name: frame.rdd.getNumPartitions()
        for name, frame in iter_curate_stages(t)
    }
    assert len(parts) == 5
    assert all(n > 1 for n in parts.values()), parts
