"""Driver-side plan construction on the curate path.

pyspark 4 records the Python call site of every ``F.*`` function and
Column method, at several py4j round trips per call, so an expression
tree built node by node from Columns costs hundreds to thousands of round
trips before any row moves. The curate path's projections are SQL text
instead (one parse per projection); these tests pin the round-trip counts
of building its operators and pin curate's output bytes, which an escape
or type slip in the SQL text would change."""
import hashlib
import json
import threading
from contextlib import contextmanager

from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from pdf_extractor_spark.operators.dedup import paragraph_dedup
from pdf_extractor_spark.operators.text_analysis import repetition_filters
from pdf_extractor_spark.plans.pipeline import run_pipeline
from pdf_extractor_spark.plans.training_data import iter_curate_stages
from pdf_extractor_spark.sources.transcripts import transcripts_df


@contextmanager
def round_trips():
    """Counts py4j commands this thread sends while the block runs (the
    gateway's garbage-collection thread is not counted)."""
    me = threading.get_ident()
    count = [0]
    orig = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            count[0] += 1
        return orig(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        yield count
    finally:
        ClientServerConnection.send_command = orig


# Bounds at about twice the counts of the SQL-text projections on a cold
# build (repetition_filters 87, paragraph_dedup 115, run_pipeline 262).
# Built from Columns the same calls took 3,019, 410 and 1,091.
MAX_TRIPS = {"repetition_filters": 175, "paragraph_dedup": 230, "run_pipeline": 520}


def test_building_curate_operators_takes_few_round_trips(spark):
    words = spark.createDataFrame(
        [("d1", ["a", "b", "a", "b"])], "doc_id string, ws array<string>"
    )
    lines = spark.createDataFrame(
        [("d1", ["x", "y"]), ("d2", ["x"])], "doc_id string, lines array<string>"
    )
    turns = transcripts_df(spark, 2, seed=1)
    builds = {
        "repetition_filters":
            lambda: repetition_filters(words, words=F.col("ws")),
        "paragraph_dedup":
            lambda: paragraph_dedup(lines, passages=F.col("lines"), joiner="\n"),
        "run_pipeline": lambda: run_pipeline(turns),
    }
    got = {}
    for name, build in builds.items():
        with round_trips() as n:
            build()
        got[name] = n[0]
    assert all(got[k] <= MAX_TRIPS[k] for k in got), got


def curate_digest(spark) -> str:
    """sha1 of curate's final rows over a fixed synthetic corpus, in
    conv_id order, each row as sorted-key JSON."""
    for _name, final in iter_curate_stages(transcripts_df(spark, 60, seed=7)):
        pass
    rows = sorted((r.asDict() for r in final.collect()), key=lambda r: r["conv_id"])
    h = hashlib.sha1()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True).encode() + b"\n")
    return h.hexdigest()


# Computed with the Column-tree projections the SQL text replaced.
CURATE_SHA1 = "34fd524aa8e7dc610683af076d057f7e304217c1"


def test_curate_output_bytes_unchanged(spark):
    assert curate_digest(spark) == CURATE_SHA1
