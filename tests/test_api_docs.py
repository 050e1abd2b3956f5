"""docs/API.md is generated from the package's docstrings; it and
README's entry count must match what the generator renders today."""

import os

from tools.gen_api_docs import README_COUNT, render

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_api_docs_match_render():
    text, n_items = render()
    with open(os.path.join(ROOT, "docs", "API.md")) as f:
        assert f.read() == text, (
            "docs/API.md is stale: run `python tools/gen_api_docs.py`")
    with open(os.path.join(ROOT, "README.md")) as f:
        counts = [int(m) for m in README_COUNT.findall(f.read())]
    assert counts == [n_items]
