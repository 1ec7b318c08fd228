"""Self-checks for the benchmark's own code.

    python3 -m pytest perfbench -q

The event-log fixture (data/tiny_eventlog.json) is a real Spark event log of
one extraction pass over a 4-doc corpus, trimmed to the events the parser
reads (job, task and SQL-plan events, without plan descriptions).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from latex_ocr_spark.fixtures.corpus import formula_for  # noqa: E402


def _shape(ids):
    """Per-doc (media count, partition, reversed?) and per-image formula
    kind (fallback-sized, long, blank or ordinary), as the corpus derivation
    and ``formula_for`` key them on doc_id."""
    out = []
    for d in ids:
        n_media = d % 3 + (12 if d % 97 == 0 else 0)
        kinds = []
        for j in range(n_media):
            latex, scale = formula_for(d, j)
            kinds.append(scale if scale >= 4 else ("blank" if not latex else "plain"))
        out.append((n_media, d % 16, d % 7 == 0, tuple(kinds)))
    return out


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_generator_deterministic_per_seed_same_shape_across_seeds(workload):
    a = gen.source_table(workload, 5)
    b = gen.source_table(workload, 5)
    c = gen.source_table(workload, 6)
    assert a.equals(b)
    assert not a["doc_id"].equals(c["doc_id"])
    assert not a["text"].equals(c["text"])
    assert len(a) == len(c) == gen.WORKLOADS[workload][0]
    assert _shape(a["doc_id"].tolist()) == _shape(c["doc_id"].tolist())


def test_daily_corpus_plants_near_duplicates():
    t = gen.source_table("daily_job", 3)
    a, b = t["text"][0].split(" "), t["text"][6].split(" ")
    assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 2


# -- event log ---------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_log():
    with open(os.path.join(HERE, "data", "tiny_eventlog.json")) as f:
        return layers.EventLog([line for line in f.read().split("\n") if line])


def test_event_log_parser_classifies_udf_and_reassembly_tasks(tiny_log):
    kinds = {t["kind"] for t in tiny_log.tasks}
    assert {"prepro", "decode", "reassemble", "scan_join"} <= kinds
    assert tiny_log.jobs and all("end" in j for j in tiny_log.jobs.values())


def test_event_log_layers_account_for_window(tiny_log):
    start = min(j["submit"] for j in tiny_log.jobs.values()) / 1e3
    end = max(j["end"] for j in tiny_log.jobs.values()) / 1e3
    out = layers.spark_layers(tiny_log, start, end, cores=4)
    parts = sum(out[f"pass.{k}_s"] for k in (*layers.JOB_RANK, "other_jobs", "driver"))
    assert parts == pytest.approx(out["pass.wall_s"], abs=1e-6)
    assert out["inference.decode_python_s"] > 0
    assert out["inference.prepro_python_s"] > 0
    assert out["inference.decode_tasks"] > 0
    assert out["inference.prepro_bytes_to_python"] > 0
    assert out["reassemble.shuffle_bytes"] > 0
    assert out["spark.tasks"] == len(tiny_log.tasks)


def test_wall_charged_once_to_highest_ranked_job():
    out = layers._charge_ms([(0, 2, "prepro"), (1, 3, "decode"), (5, 6, "other_jobs")], 0, 8)
    assert out == {"prepro": 1, "decode": 2, "driver": 4, "other_jobs": 1}


# -- output check --------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from latex_ocr_spark.session import get_spark

    s = get_spark("perfbench-selfcheck", cores=1, extra={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _docs(spark, rows):
    from latex_ocr_spark.sources import DOCS_SCHEMA

    return spark.createDataFrame(rows, DOCS_SCHEMA)


INPUT = [
    ("doc-1", 1, [("text", "a b", None, 0), ("media", None, "img-1-0", 1),
                  ("text", "c", None, 2)]),
    ("doc-2", 2, [("text", "d", None, 2), ("media", None, "img-2-0", 1),
                  ("text", "e", None, 0)]),
]
OUTPUT = [
    ("doc-1", 1, [("text", "a b", None, 0), ("media", "x^2", "img-1-0", 1),
                  ("text", "c", None, 2)]),
    ("doc-2", 2, [("text", "e", None, 0), ("media", "y", "img-2-0", 1),
                  ("text", "d", None, 2)]),
]


def test_output_check_passes_on_correct_output(spark):
    expected = _expected(spark)
    out = checks.consume(_docs(spark, OUTPUT), ["doc-1"])
    assert checks.check_extraction(out, expected, {"img-1-0": "x^2"}) == []


def _expected(spark):
    from pyspark.sql import functions as F

    pdf = (
        _docs(spark, INPUT)
        .select("doc_id", F.xxhash64("doc_id", "part", checks.span_key(F.col("spans"))).alias("k"))
        .toPandas()
    )
    return dict(zip(pdf["doc_id"], pdf["k"].astype(np.int64)))


@pytest.mark.parametrize(
    "mutate",
    [
        lambda spans: [(k, t + "!" if k == "text" else t, m, o) for k, t, m, o in spans],
        lambda spans: [(k, t, m, o + 10 if k == "media" else o) for k, t, m, o in spans],
        lambda spans: [s for s in spans if s[0] != "media"],
        lambda spans: [(k, t, "img-9-9" if m else m, o) for k, t, m, o in spans],
    ],
    ids=["text", "offset", "dropped_media", "media_ref"],
)
def test_output_check_catches_mutated_span(spark, mutate):
    bad = [OUTPUT[0], (OUTPUT[1][0], OUTPUT[1][1], mutate(OUTPUT[1][2]))]
    out = checks.consume(_docs(spark, bad), [])
    problems = checks.check_extraction(out, _expected(spark), {})
    assert problems and "differ from input" in problems[0]


def test_output_check_catches_wrong_decode_and_digest_moves(spark):
    bad = [(OUTPUT[0][0], 1, [(k, "x^3" if k == "media" else t, m, o)
                              for k, t, m, o in OUTPUT[0][2]]), OUTPUT[1]]
    good_out = checks.consume(_docs(spark, OUTPUT), ["doc-1"])
    bad_out = checks.consume(_docs(spark, bad), ["doc-1"])
    assert checks.check_extraction(bad_out, _expected(spark), {"img-1-0": "x^2"})
    assert checks.digest(good_out["full"]) != checks.digest(bad_out["full"])
    # order-insensitive: same rows in another order give the same digest
    assert checks.digest(good_out["full"]) == checks.digest(good_out["full"][::-1])


def test_daily_check_reconciles_lineage():
    lineage = [{"status": "done", "n_docs": 10, "n_images": 7},
               {"status": "curated", "n_docs": 8, "n_images": 0}]
    assert checks.check_daily(lineage, 10, 7, {"curate": 8}) == []
    assert checks.check_daily(lineage, 11, 7, {"curate": 8})
    assert checks.check_daily(lineage, 10, 6, {"curate": 8})


# -- BENCHMARK.json ---------------------------------------------------------------


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _, _ in layers.PER_LAYER]
    assert [m["unit"] for m in spec["per_layer"]] == [u for _, u, _ in layers.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} == set(gen.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "docs_per_s", "pass_s_p50", "setup_s", "peak_rss_mb"
    }
