"""CLI end-to-end: subprocess drives the golden CSV through the pipeline
(reference src/main.py surface: --input/--batch/--config/--dry-run)."""

import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _run(args, cwd=REPO):
    return subprocess.run(
        [sys.executable, "-m", "manufacturing_data_integration_tool_spark", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_cli_single_file(golden_csv, mapping_config_path, tmp_path):
    out = tmp_path / "out"
    r = _run(
        [
            "--input", golden_csv,
            "--config", mapping_config_path,
            "--output-dir", str(out),
            "--master", "local[2]",
        ]
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "total=9 valid=6 invalid=3" in r.stdout
    assert "error:" in r.stdout  # first-5 preview printed
    assert (out / "quality_data").exists()


def test_cli_batch_glob_per_file_report(golden_csv, mapping_config_path, tmp_path):
    inbox = tmp_path / "raw"
    inbox.mkdir()
    for i in range(2):
        shutil.copy(golden_csv, inbox / f"prod_{i}.csv")
    r = _run(
        [
            "--batch", str(inbox / "*.csv"),
            "--config", mapping_config_path,
            "--master", "local[2]",
        ]
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "total=18 valid=12 invalid=6" in r.stdout
    # per-file breakdown + batch summary (both files carry invalid rows)
    assert r.stdout.count("ERR") == 2
    assert "BATCH COMPLETE: 0/2" in r.stdout


def test_cli_dry_run(golden_csv, mapping_config_path):
    r = _run(["--input", golden_csv, "--config", mapping_config_path, "--dry-run",
              "--master", "local[2]"])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "[DRY RUN] total=9 valid=6 invalid=3" in r.stdout


@pytest.mark.parametrize("dry_run", [False, True])
def test_cli_fail_fast_exits_cleanly(golden_csv, mapping_config_path, tmp_path, dry_run):
    cfg = tmp_path / "fail_fast.xml"
    cfg.write_text(Path(mapping_config_path).read_text().replace(
        "<ErrorHandling>continue</ErrorHandling>", "<ErrorHandling>fail_fast</ErrorHandling>"))
    out = tmp_path / "out"
    args = ["--input", golden_csv, "--config", str(cfg), "--output-dir", str(out), "--master", "local[2]"]
    r = _run(args + ["--dry-run"] * dry_run)
    assert r.returncode == 1, r.stderr[-2000:]
    assert "total=9 valid=6 invalid=3" in r.stdout
    assert "fail_fast: 3 of 9 rows invalid" in r.stderr
    assert "Traceback" not in r.stderr
    assert not out.exists()


def test_cli_missing_file(mapping_config_path):
    r = _run(["--input", "/nonexistent.csv", "--config", mapping_config_path])
    assert r.returncode == 1
    assert "File not found" in r.stderr
