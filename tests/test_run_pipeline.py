"""The production entry point (run_pipeline.py): a fresh run explains its
own cost with timed per-stage events, and a ``--resume`` run over the same
output directory recomputes no stage."""

from __future__ import annotations

import json
import os
import sys

import run_pipeline
from healthcare_entity_resolution_spark.corpus import generate_files_corpus

COLS = ["repo", "path", "commit", "lang", "content"]
TIMED = ("normalize", "exact_dedup", "blocking", "scoring", "clustering")


def _run(monkeypatch, capsys, *args) -> dict:
    monkeypatch.setattr(sys, "argv", ["run_pipeline.py", *args])
    run_pipeline.main()
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-1])


def test_fresh_then_resumed_run(spark, tmp_path, monkeypatch, capsys):
    pdf, _ = generate_files_corpus(n_entities=27, seed=4)  # 79 files
    inp = str(tmp_path / "files.parquet")
    pdf[COLS].to_parquet(inp)
    out = str(tmp_path / "run")

    fresh = _run(monkeypatch, capsys, "--input", inp, "--output", out)
    assert fresh["assignments"] == len(pdf)
    assert "scoring" in fresh["stages"] and "clustering" in fresh["stages"]
    assert "cc.converged" in fresh["stages"]
    assert os.path.exists(os.path.join(out, "report.html"))
    assert os.path.isdir(os.path.join(out, "lineage_score_batches.parquet"))
    with open(os.path.join(out, "lineage_events.jsonl")) as f:
        events = [json.loads(line) for line in f]
    timed = {e["stage"]: e for e in events if e["stage"] in TIMED}
    assert set(timed) == set(TIMED)
    assert all(e["sec"] >= 0 for e in timed.values())
    assert timed["normalize"]["rows"] == len(pdf)
    assert timed["clustering"]["nodes"] == len(pdf)
    assert not any(e["stage"] == "resume.files" and e["resumed"] for e in events)

    resumed = _run(monkeypatch, capsys, "--input", inp, "--output", out, "--resume")
    assert resumed["assignments"] == fresh["assignments"]
    assert os.path.exists(os.path.join(out, "report.html"))
    assert "cc.converged" not in resumed["stages"]  # no stage recomputed
    with open(os.path.join(out, "lineage_events.jsonl")) as f:
        events = [json.loads(line) for line in f][len(events):]
    flags = {e["stage"]: e["resumed"] for e in events
             if e["stage"].startswith("resume.")}
    assert flags == {"resume.files": True, "resume.pairs": True,
                     "resume.classified": True, "resume.assignments": True}


def test_file_backed_lineage_keeps_no_events_in_memory(tmp_path):
    """A log with a run dir appends each event to its jsonl file only, so a
    long-lived process (the stream) does not grow memory per event;
    ``read_events`` reads back this log's events, not an earlier run's."""
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    run_dir = str(tmp_path / "run")
    earlier = LineageLog(run_dir=run_dir)
    earlier.log("earlier.run")
    log = LineageLog(run_dir=run_dir)
    for i in range(5000):
        log.log("stream.batch", batch=i)
    assert log.events == []
    assert [e["batch"] for e in log.read_events()] == list(range(5000))
    with open(os.path.join(run_dir, "lineage_events.jsonl")) as f:
        assert sum(1 for _ in f) == 5001
    assert [e["stage"] for e in earlier.read_events()][0] == "earlier.run"
