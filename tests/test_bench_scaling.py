"""tools/bench_scaling.py: the interleaved measurement's host-probe gates."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import bench_scaling  # noqa: E402


@pytest.mark.parametrize(
    "par_probes, aborted",
    [([1.9, 1.9], None), ([1.9, 2.0], "host degraded during runs"), ([2.0], "host degraded")],
    ids=["clean", "degraded-during", "degraded-before"],
)
def test_interleaved_gates_on_probes_before_and_after(tmp_path, monkeypatch, capsys, par_probes, aborted):
    """A window whose 4N-way probe reaches 1.5x the 1-core probe before the
    runs starts none; one that reaches it after them reports no
    efficiency."""
    (tmp_path / "_SUCCESS").touch()
    runs = iter([400.0, 100.0, 380.0, 110.0])
    probes = iter(par_probes)
    monkeypatch.setattr(bench_scaling, "host_probe_s", lambda: 1.3)
    monkeypatch.setattr(bench_scaling, "host_probe_parallel_s", lambda n: next(probes))
    monkeypatch.setattr(
        bench_scaling, "run_level", lambda cpus, corpus, repeats: {"docs_per_sec": next(runs), "n_docs": 10}
    )
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py", "--corpus", str(tmp_path)])
    bench_scaling.main()
    out = json.loads(capsys.readouterr().out)
    assert out.get("aborted") == aborted
    assert ("efficiency" in out) == (aborted is None)
    if aborted is None:
        assert out["efficiency"] == round(400 / (4 * 110), 3)
