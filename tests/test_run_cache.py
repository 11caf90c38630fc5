"""tools/check_oracles.py prunes the cached run dirs of other engine sources."""

import importlib.util
import os
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _check_oracles():
    spec = importlib.util.spec_from_file_location("check_oracles", ROOT / "tools" / "check_oracles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_prune_stale_runs_keeps_only_the_current_digest(tmp_path):
    current, stale = "0123456789ab", "ba9876543210"
    keep = ["sf0.01-v8.3-" + current, "sf0.01-refine-v8.3-" + current, "notes"]
    drop = ["sf0.01-v8.3-" + stale, "sf0.001-stream-v8.3-" + stale]
    for name in keep + drop:
        (tmp_path / name / "sub").mkdir(parents=True)
    assert _check_oracles().prune_stale_runs(str(tmp_path), current) == sorted(drop)
    assert sorted(os.listdir(tmp_path)) == sorted(keep)


def test_prune_stale_runs_without_a_runs_dir(tmp_path):
    assert _check_oracles().prune_stale_runs(str(tmp_path / "missing"), "0123456789ab") == []
