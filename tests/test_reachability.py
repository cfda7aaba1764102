"""Every package module is reached from an entry point (the CLI,
bench.py, perfbench/ or tools/): a module only tests import is dead
code, so it either gets a caller or is deleted."""

import importlib.util
from pathlib import Path

TOOL = Path(__file__).resolve().parent.parent / "tools" / "reachability.py"


def test_every_package_module_is_reached_from_an_entry_point():
    spec = importlib.util.spec_from_file_location("reachability", TOOL)
    reachability = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(reachability)

    assert reachability.unreached() == []
