"""CLI smoke tests — the `python -m marc_data_migration_spark` surface
(reference processor.py argparse analogue). Heavy paths (stream) are
covered by tests/test_streaming.py; here we pin the arg wiring and the
batch `apply` lifecycle end-to-end."""

from __future__ import annotations

import json
import os

import pytest

from marc_data_migration_spark.__main__ import main
from marc_data_migration_spark.feedgen import gen_changes, gen_transcripts


def test_feedgen_stages_chunks(tmp_path, capsys):
    main(["feedgen", "--out", str(tmp_path / "feed"), "--events", "200", "--chunks", "3"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["staged"] == 3
    files = sorted(os.listdir(tmp_path / "feed"))
    assert len(files) == 3 and all(f.endswith(".parquet") for f in files)


def test_gen_changes_independent_of_hash_seed():
    """The same seed gives the same feed in every process: two
    interpreters with different str-hash salts must agree."""
    import subprocess
    import sys

    code = (
        "from marc_data_migration_spark.feedgen import gen_changes\n"
        "for v in ('basic', 'upsert', 'delete', 'dup-replay', 'skew', 'evolve'):\n"
        "    print(gen_changes(v, n_events=200, n_convs=20, seed=11).to_csv())\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    feeds = [
        subprocess.run(
            [sys.executable, "-c", code],
            cwd=root,
            env={**os.environ, "PYTHONHASHSEED": salt},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        for salt in ("1", "2")
    ]
    assert feeds[0] and feeds[0] == feeds[1]


def test_bad_strategy_rejected(tmp_path):
    with pytest.raises(SystemExit):
        main(["apply", "--base", "x", "--changes", "y", "--out", "z", "--strategy", "nope"])


def test_apply_lifecycle(tmp_path, spark, capsys, monkeypatch):
    # route the CLI's session factory at the shared test session so the
    # subcommand doesn't spin up (and stop) a second JVM
    import marc_data_migration_spark.__main__ as cli

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    # the merge runs once: its join cache is the one frame the command
    # persists, and the command releases it
    results = []
    real_apply = cli.apply_changes

    def recording_apply(*a, **kw):
        results.append(real_apply(*a, **kw))
        return results[-1]

    monkeypatch.setattr(cli, "apply_changes", recording_apply)
    frame_cls = type(spark.range(1))
    orig_persist = frame_cls.persist
    persisted = []

    def counting_persist(self, *a, **kw):
        persisted.append(self)
        return orig_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", counting_persist)
    spark.catalog.clearCache()

    base = gen_transcripts(n_convs=10, seed=3).assign(lsn=0)
    changes = gen_changes(variant="upsert", n_events=150, n_convs=10, seed=3)
    for df in (base, changes):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64[ns"):
                df[c] = df[c].astype("datetime64[us]")
    base.to_parquet(tmp_path / "base.parquet", index=False)
    changes.to_parquet(tmp_path / "changes.parquet", index=False)

    main(
        [
            "apply",
            "--base",
            str(tmp_path / "base.parquet"),
            "--changes",
            str(tmp_path / "changes.parquet"),
            "--out",
            str(tmp_path / "out"),
            "--policy",
            "marc_data_migration_spark.policy.TranscriptPolicy",
        ]
    )
    out = json.loads(capsys.readouterr().out.strip())
    assert out["final_rows"] > 0
    assert len(results) == 1 and persisted == [results[0].cached]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(out["routes"]) <= {
        "updated",
        "fuzzy-updated",
        "non-updated",
        "deleted",
        "delete-noop",
        "stale",
        "unmodified",
        "skipped-insert",
    }
    final = spark.read.parquet(str(tmp_path / "out" / "final"))
    assert final.count() == out["final_rows"]
    # stable turn ordering invariant: key is unique post-merge
    assert final.select("conv_id", "turn_idx").distinct().count() == out["final_rows"]
