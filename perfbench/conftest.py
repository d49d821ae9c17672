"""Keep the benchmark's tests out of a bare ``pytest`` at the repository root.

Each case starts a Spark session in a subprocess and takes minutes, so the
cases run only when pytest is pointed at this directory:

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import os

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))


def _inside(path: str) -> bool:
    return os.path.commonpath([HERE, os.path.abspath(path)]) == HERE


def pytest_collection_modifyitems(config, items):
    base = str(config.invocation_params.dir)
    if any(_inside(os.path.join(base, str(a).split("::")[0])) for a in config.args):
        return
    skip = pytest.mark.skip(reason="slow benchmark tests: run `python3 -m pytest perfbench/`")
    for item in items:
        if _inside(str(item.path)):
            item.add_marker(skip)
