"""CLI command tree (reference: cmd/eventlog/cli/cli_test.go) driven
in-process — create / append / version / scan / check round trip."""

from __future__ import annotations

import json

import pytest

from eventlog_spark import cli


def run(capsys, *argv) -> tuple[int, str]:
    code = cli.main(list(argv))
    return code, capsys.readouterr().out


def test_cli_roundtrip(spark, tmp_path, capsys):
    path = str(tmp_path / "log")
    code, out = run(capsys, "create", path, "-m", "env:test", "-m", "owner:ci")
    assert code == 0 and "created" in out

    code, out = run(capsys, "append", path, "greet", '{"msg":"hi"}')
    assert code == 0
    assert json.loads(out)["version"] == "1"

    code, out = run(capsys, "append", path, "greet", '{"msg":"again"}')
    assert json.loads(out)["version"] == "2"

    code, out = run(capsys, "version", path)
    assert json.loads(out) == {"version": "2", "version-initial": "1"}

    code, out = run(capsys, "scan", path)
    lines = [json.loads(line) for line in out.strip().splitlines()]
    assert [e["version"] for e in lines] == ["1", "2"]
    assert lines[0]["payload"] == {"msg": "hi"}

    code, out = run(capsys, "scan", path, "--reverse", "-n", "1")
    (top,) = [json.loads(line) for line in out.strip().splitlines()]
    assert top["version"] == "2"

    code, out = run(capsys, "append", path, "other", '{"msg":"x"}')
    code, out = run(capsys, "scan", path, "--label", "greet")
    lines = [json.loads(line) for line in out.strip().splitlines()]
    assert [e["version"] for e in lines] == ["1", "2"]
    assert {e["label"] for e in lines} == {"greet"}
    code, out = run(capsys, "scan", path, "--label", "absent")
    assert out.strip() == ""

    code, out = run(capsys, "check", path)
    assert code == 0
    assert all(v == 0 for v in json.loads(out).values())


def test_cli_bad_metadata_flag(tmp_path):
    with pytest.raises(SystemExit):
        cli.main(["create", str(tmp_path / "x"), "-m", "no-colon"])


def test_cli_compact_and_vacuum(spark, tmp_path, capsys):
    """`compact` swaps the manifest to few large files and `vacuum
    --grace 0` reaps the retired fragments; data and integrity survive."""
    path = str(tmp_path / "clog")
    run(capsys, "create", path)
    for i in range(5):
        run(capsys, "append", path, f"e{i}", f'{{"i":{i}}}')

    code, out = run(capsys, "compact", path, "--partitions", "1")
    assert code == 0 and json.loads(out) == {"files": 1}

    code, out = run(capsys, "vacuum", path, "--grace", "0")
    assert code == 0 and json.loads(out)["removed"] == 5

    code, out = run(capsys, "check", path)
    assert code == 0

    code, out = run(capsys, "scan", path)
    lines = [json.loads(line) for line in out.strip().splitlines()]
    assert [e["version"] for e in lines] == ["1", "2", "3", "4", "5"]


def test_cli_path_subcommands_commit_without_flock(
    spark, tmp_path, capsys, monkeypatch
):
    """Every path-taking subcommand runs the one commit protocol (the
    delta claim): with flock exploded, create/append/version/scan/
    check/vacuum all succeed and agree on the log."""
    import fcntl

    def boom(*a, **k):
        raise AssertionError("the commit protocol must never take a flock")

    monkeypatch.setattr(fcntl, "flock", boom)
    path = str(tmp_path / "log")
    code, _ = run(capsys, "create", path)
    assert code == 0
    code, _ = run(capsys, "append", path, "e", '{"i":1}')
    assert code == 0
    code, out = run(capsys, "version", path)
    assert code == 0 and json.loads(out)["version"] == "1"
    code, out = run(capsys, "scan", path)
    assert code == 0 and len(out.strip().splitlines()) == 1
    code, out = run(capsys, "check", path)
    assert code == 0
    code, out = run(capsys, "vacuum", path, "--grace", "0")
    assert code == 0


def test_cli_stats_layout_report(spark, tmp_path, capsys):
    """`stats` surfaces the label-layout health report: degraded
    (interleaved) layout recommends `compact --cluster-by label`; after
    running exactly that command the report flips to healthy."""
    from eventlog_spark.manifest import ManifestLog

    path = str(tmp_path / "slog")
    run(capsys, "create", path)
    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    mp.setattr(ManifestLog, "PAGE_ENTRIES", 8)
    mp.setattr(ManifestLog, "CHECKPOINT_EVERY", 8)
    try:
        for i in range(32):
            run(capsys, "append", path, ["a", "b", "c", "d"][i % 4], f'{{"i":{i}}}')
        code, out = run(capsys, "stats", path)
        rep = json.loads(out)
        assert code == 0 and rep["recommend_cluster_by_label"] is True

        code, _ = run(capsys, "compact", path, "--cluster-by", "label",
                      "--partitions", "4")
        assert code == 0
        code, out = run(capsys, "stats", path, "--label", "a", "--label", "b")
        rep = json.loads(out)
        assert code == 0 and rep["recommend_cluster_by_label"] is False
        assert set(rep["labels_probed"]) == {"a", "b"}
    finally:
        mp.undo()


def test_cli_maintain_autopilot(spark, tmp_path, capsys):
    """`maintain` acts on the stats recommendation: on a degraded
    interleaved layout it runs the label-clustered compaction and the
    report flips to healthy; a second run is a no-op."""
    from eventlog_spark.manifest import ManifestLog

    path = str(tmp_path / "mlog")
    run(capsys, "create", path)
    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    mp.setattr(ManifestLog, "PAGE_ENTRIES", 8)
    mp.setattr(ManifestLog, "CHECKPOINT_EVERY", 8)
    try:
        for i in range(32):
            run(capsys, "append", path, ["a", "b", "c", "d"][i % 4], f'{{"i":{i}}}')
        code, out = run(capsys, "maintain", path)
        rep = json.loads(out)
        assert code == 0 and rep["compacted"] is True
        assert rep["before"]["recommend_cluster_by_label"] is True
        assert rep["after"]["recommend_cluster_by_label"] is False

        code, out = run(capsys, "maintain", path)
        rep = json.loads(out)
        assert code == 0 and rep["compacted"] is False
    finally:
        mp.undo()
