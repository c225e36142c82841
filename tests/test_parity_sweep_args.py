"""scripts/parity_sweep.py command line: both ``--artifact`` spellings
reach the artifact writer and never land in the swept sf dirs. No
Spark session is started."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def parse_args():
    path = os.path.join(REPO, "scripts", "parity_sweep.py")
    spec = importlib.util.spec_from_file_location("parity_sweep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.parse_args


@pytest.mark.parametrize(
    "argv",
    [
        ["--artifact", "out.json", "sf_a", "sf_b"],
        ["--artifact=out.json", "sf_a", "sf_b"],
        ["sf_a", "--artifact", "out.json", "sf_b"],
        ["sf_a", "sf_b", "--artifact=out.json"],
    ],
)
def test_artifact_both_spellings(parse_args, argv):
    args = parse_args(argv)
    assert args.artifact == "out.json"
    assert args.sf_dirs == ["sf_a", "sf_b"]
    assert not args.trace


def test_defaults_and_trace(parse_args):
    args = parse_args([])
    assert args.sf_dirs == [] and args.artifact is None and not args.trace
    assert parse_args(["--trace", "sf_a"]).trace
