"""The measurement harness (``bench.py``) and the scripts in ``tools/``:
every script still imports against the current package, and
``bench.run`` times any registry entries without touching BENCH.json.
Also a source scan that keeps module-level caches out of the package."""

from __future__ import annotations

import ast
import importlib.util
import json
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(ROOT.glob("tools/*.py")) + [ROOT / "bench.py"]


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_imports(path, monkeypatch):
    monkeypatch.chdir(ROOT)  # sweep.py imports the tests package from the cwd
    _load(path)  # runs the module body, not its entry point


def _empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "list", "set")
        and not node.args
        and not node.keywords
    )


def test_no_module_level_caches():
    """No package module binds a module-level name to an empty ``{}``,
    ``[]``, ``set()``, ``dict()`` or ``list()`` — the shape of a
    process-global cache, which outlives its JVM and needs clearing by
    hand.  Driver-derived state goes through ``plancache.memo`` (per
    SparkContext) or ``plancache.table_plan`` (per session)."""
    found = []
    for path in sorted((ROOT / "aprs2influxdb_spark").rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.Assign):
                targets = stmt.targets
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                targets = [stmt.target]
            else:
                continue
            if _empty_container(stmt.value):
                found += [
                    f"{path.relative_to(ROOT)}:{stmt.lineno} {t.id}"
                    for t in targets
                    if isinstance(t, ast.Name)
                ]
    assert found == []


def test_bench_run_any_entries(spark, sf_dir):
    bench = _load(ROOT / "bench.py")
    committed = (ROOT / "BENCH.json").read_bytes()
    names = ["pricing_summary", "market_share"]  # one headline, one not

    body = bench.run(spark, sf_dir, names)

    assert list(body["queries"]) == names
    assert list(body["build"]) == names
    for name in names:
        assert 0 <= body["build"][name] <= body["queries"][name]
    line = bench.compact(body)
    assert list(line) == [
        "metric", "value", "unit", "sf", "n_queries", "queries_file", "n_listed", "queries",
    ]
    assert line["n_queries"] == line["n_listed"] == 2
    assert len(json.dumps(line)) <= 1500
    assert (ROOT / "BENCH.json").read_bytes() == committed

    with pytest.raises(SystemExit):
        bench.run(spark, sf_dir, ["pricing_summary", "no_such_entry"])


def test_soak_accounts_for_every_frame(spark, monkeypatch):
    """The soak at test size, in process: it starts the daemon through
    ``cli.start``, and every frame read is a stub line or an EQNS frame
    absorbed by calibration."""
    from aprs2influxdb_spark import cli

    started = []
    real = cli.start
    monkeypatch.setattr(cli, "start", lambda *a, **k: started.append(a) or real(*a, **k))
    soak = _load(ROOT / "tools" / "soak.py")

    out = soak.run_soak(2200, 2, 1500, spark=spark)

    assert len(started) == 1
    assert out["leg"] == "broadcast" and out["batches"] == 2
    assert (out["frames"], out["eqns_frames"]) == (2200, 200)  # i % 11 == 10
    assert out["http_lines"] + out["eqns_frames"] == out["frames"]
    # the reference leg samples every frame file, not only the first
    assert out["ref_model_frames"] == 1500  # > one file's 1,100 frames
    # the cold first batch is reported apart; p50/p99 cover the rest
    assert out["first_batch_ms"] > 0
    assert out["batch_ms_p50"] == out["batch_ms_p99"] > 0  # one warm batch


def test_capture_plans_streaming_entry(spark, sf_dir, tmp_path, monkeypatch):
    """The plan tool on a stateful streaming entry, in process: the file
    holds the executed micro-batch's plan, state operator included."""
    from aprs2influxdb_spark import session

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    tool = _load(ROOT / "tools" / "capture_plans.py")

    argv = ["t", "streaming_time_bucket", "--sf", sf_dir, "--outdir", str(tmp_path)]
    assert tool.main(argv) == 0

    plan = (tmp_path / "streaming_time_bucket_t.txt").read_text()
    assert "StateStoreSave" in plan and "StateStoreRestore" in plan
