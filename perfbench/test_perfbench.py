"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check as C  # noqa: E402
import gen  # noqa: E402
import pipeline as P  # noqa: E402
import run as R  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _stage(tmp_path, seed: int, label: str) -> tuple[str, str]:
    t = gen.make_events(seed, 5_000)
    pq_dir, spool_dir = str(tmp_path / f"{label}-pq"), str(tmp_path / f"{label}-spool")
    gen.stage_parquet(t, pq_dir, 3)
    gen.stage_spool(t, spool_dir, 4)
    return _digest(pq_dir), _digest(spool_dir)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _stage(tmp_path, 7, "a") == _stage(tmp_path, 7, "b")


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _stage(tmp_path, 7, "a"), _stage(tmp_path, 8, "b")
    assert a[0] != b[0] and a[1] != b[1]


def test_generator_shape():
    df = gen.make_events(3, 20_000).to_pandas()
    assert df["event_id"].tolist() == list(range(20_000))
    share = (df["props"] == gen.POISON).mean()
    assert 0.005 < share < 0.015
    # Zipf skew: the most frequent batch key carries far more than 1/64
    top = (df["user_id"] % P.KEY_MOD).value_counts(normalize=True).iloc[0]
    assert top > 3 / P.KEY_MOD


def _good_outputs(events: pd.DataFrame) -> C.Outputs:
    """What a correct drain writes for ``events``."""
    exp = C.expected_routes(events)
    ack = pd.DataFrame(
        {
            "event_id": exp["event_id"],
            "batch_id": exp["event_id"] // 1000,
            "outcome": exp["poison"].map({True: "failed", False: "ok"}),
            "batcher": exp["route"],
            "batch_size": exp["route"].map({"billing": 64, "default": 200}).where(
                ~exp["poison"]
            ),
        }
    )
    placed = pd.DataFrame(
        {"event_id": exp["event_id"], "sink": exp["route"].where(~exp["poison"], "dlq")}
    )
    return C.Outputs(ack=ack, placed=placed)


@pytest.fixture()
def events():
    return gen.make_events(11, 3_000).select(["event_id", "event_type", "props"]).to_pandas()


def test_checker_passes_correct_outputs(events):
    r = C.check(events, _good_outputs(events), P.BATCH_SIZES)
    assert (r.attempted, r.failed) == (3_000, 0)


def test_checker_flags_doctored_ack_log(events):
    out = _good_outputs(events)
    ack = out.ack
    poison_id = int(ack.loc[ack["outcome"] == "failed", "event_id"].iloc[0])
    dropped, duplicated = 5, 6
    assert poison_id not in (dropped, duplicated)
    ack = ack[ack["event_id"] != dropped]
    ack = pd.concat([ack, ack[ack["event_id"] == duplicated]], ignore_index=True)
    ack.loc[ack["event_id"] == poison_id, "outcome"] = "ok"
    r = C.check(events, C.Outputs(ack=ack, placed=out.placed), P.BATCH_SIZES)
    assert r.failed == 3 and r.failed / r.attempted > 0
    assert r.problems["ack_lost"] == 1
    assert r.problems["ack_duplicated"] == 1
    assert r.problems["ack_wrong_outcome"] == 1


def test_checker_flags_placement_and_chunks(events):
    out = _good_outputs(events)
    placed, ack = out.placed.copy(), out.ack.copy()
    ok_id = int(ack.loc[ack["outcome"] == "ok", "event_id"].iloc[0])
    placed.loc[placed["event_id"] == ok_id, "sink"] = "dlq"
    big = int(ack.loc[ack["batcher"] == "billing", "event_id"].iloc[0])
    ack.loc[ack["event_id"] == big, "batch_size"] = 65
    placed = pd.concat([placed, pd.DataFrame({"event_id": [10**9], "sink": ["default"]})])
    r = C.check(events, C.Outputs(ack=ack, placed=placed), P.BATCH_SIZES)
    assert r.problems["output_misplaced"] == 1
    assert r.problems["chunk_oversize"] == 1
    assert r.problems["unexpected_id"] == 1
    assert r.failed == 3


def test_load_outputs_reads_sink_directories(tmp_path, events):
    good = _good_outputs(events)
    dirs = P.out_dirs(str(tmp_path))
    ack = good.ack.assign(ack_data=good.ack["event_id"].astype(str)).drop(columns="event_id")
    os.makedirs(dirs["ack"])
    pq.write_table(pa.Table.from_pandas(ack, preserve_index=False), f"{dirs['ack']}/part-0.parquet")
    for sink in C.OUTPUT_SINKS:
        os.makedirs(dirs[sink])
        ids = good.placed.loc[good.placed["sink"] == sink, ["event_id"]]
        pq.write_table(pa.Table.from_pandas(ids, preserve_index=False), f"{dirs[sink]}/p.parquet")
        open(f"{dirs[sink]}/_SUCCESS", "w").close()
    r = C.check(events, C.load_outputs(dirs), P.BATCH_SIZES)
    assert (r.attempted, r.failed) == (3_000, 0)


# ------------------------------------------------------------ temp root


def _fake_args(workload: str) -> list[str]:
    return ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0"]


def test_temp_root_removed_after_success(monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(R, "TMP_PARENT", str(tmp_path / "tmproot"))
    seen = {}

    def fake(run, trace):
        seen["root"] = run.root
        with open(os.path.join(run.root, "tmp", "x"), "w") as fh:
            fh.write("x")
        return dict.fromkeys(R.E2E_UNITS, 1.0), C.Result(1, 0), None

    monkeypatch.setitem(R.WORKLOADS, "backlog_router", fake)
    monkeypatch.setattr(os, "environ", dict(os.environ))
    assert R.main(_fake_args("backlog_router")) == 0
    assert seen["root"].startswith(str(tmp_path / "tmproot"))
    assert not os.path.exists(str(tmp_path / "tmproot"))
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(last)["correct"] is True


def test_temp_root_removed_after_failure(monkeypatch, tmp_path):
    monkeypatch.setattr(R, "TMP_PARENT", str(tmp_path / "tmproot"))

    def boom(run, trace):
        os.makedirs(os.path.join(run.root, "deep", "dir"))
        raise RuntimeError("workload failed")

    monkeypatch.setitem(R.WORKLOADS, "backlog_router", boom)
    monkeypatch.setattr(os, "environ", dict(os.environ))
    with pytest.raises(RuntimeError):
        R.main(_fake_args("backlog_router"))
    assert not os.path.exists(str(tmp_path / "tmproot"))


def test_bare_directory_fails_without_result(tmp_path):
    """A directory holding only the benchmark (no program) exits non-zero
    and prints no result line, and leaves no temp root behind."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *_fake_args("paced_spool")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not (tmp_path / ".perfbench_tmp").exists()
