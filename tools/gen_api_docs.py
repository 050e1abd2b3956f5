"""Generate docs/API.md — the public operator/function reference —
from the package's own __all__ lists, signatures, and docstrings.

Run from the repo root:  python tools/gen_api_docs.py
The output is checked in so the reference is readable without running
anything; re-run after adding an operator.
"""

from __future__ import annotations

import importlib
import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SECTIONS = [
    ("Sources & sinks", ["fmx.sources.tables", "fmx.sources.sinks",
                         "fmx.sources.bucketing"]),
    ("Core linear algebra (native array exprs)", ["fmx.core.linalg"]),
    ("Skew tooling", ["fmx.core.skew"]),
    ("FM estimator / model (reference API)", ["fmx.fm.sgd", "fmx.fm.model",
                                              "fmx.fm.classifier",
                                              "fmx.fm.serving"]),
    ("Deduplication", ["fmx.operators.dedup"]),
    ("Similarity / ANN", ["fmx.operators.similarity"]),
    ("Text analysis", ["fmx.operators.text"]),
    ("Web-corpus curation", ["fmx.operators.web"]),
    ("Sampling & packing", ["fmx.operators.sampling"]),
    ("Temporal", ["fmx.operators.temporal"]),
    ("Profiling & statistics", ["fmx.operators.profiling"]),
    ("Feature engineering", ["fmx.operators.features"]),
    ("Data quality", ["fmx.operators.dq"]),
    ("Sketches", ["fmx.operators.sketches"]),
    ("Graph", ["fmx.operators.graph"]),
    ("Layout", ["fmx.operators.layout"]),
    ("Multimodal", ["fmx.operators.multimodal"]),
    ("Streaming", ["fmx.streaming.ops"]),
]


def first_paragraph(doc: str | None) -> str:
    if not doc:
        return "(undocumented)"
    para = doc.strip().split("\n\n")[0]
    return " ".join(line.strip() for line in para.splitlines())


def render() -> tuple[str, int]:
    """The text of docs/API.md and the number of entries it lists."""
    out = ["# fmx API reference",
           "",
           "Generated by `python tools/gen_api_docs.py` from the package's",
           "`__all__` lists and docstrings — regenerate after adding an",
           "operator.  Every operator is a pure `DataFrame -> DataFrame`",
           "function unless its signature says otherwise; scale behavior",
           "is documented per-operator in the full docstrings and in",
           "`SCALE.md`.",
           ""]
    n_items = 0
    for title, modules in SECTIONS:
        out.append(f"## {title}")
        out.append("")
        for modname in modules:
            mod = importlib.import_module(modname)
            names = getattr(mod, "__all__", None)
            if names is None:
                names = [n for n, o in vars(mod).items()
                         if not n.startswith("_")
                         and getattr(o, "__module__", None) == modname]
            out.append(f"### `{modname}`")
            out.append("")
            for name in names:
                obj = getattr(mod, name)
                if inspect.isclass(obj):
                    sig = f"class {name}"
                    doc = first_paragraph(obj.__doc__)
                elif callable(obj):
                    try:
                        sig = f"{name}{inspect.signature(obj)}"
                    except (TypeError, ValueError):
                        sig = name
                    doc = first_paragraph(obj.__doc__)
                else:
                    sig = f"{name} = {obj!r}"
                    doc = "(constant)"
                out.append(f"- **`{sig}`**  ")
                out.append(f"  {doc}")
                n_items += 1
            out.append("")
    return "\n".join(out) + "\n", n_items


README_COUNT = re.compile(r"lists all (\d+) with signatures")


def main() -> None:
    text, n_items = render()
    os.makedirs("docs", exist_ok=True)
    with open("docs/API.md", "w") as f:
        f.write(text)
    print(f"wrote docs/API.md ({n_items} entries)")
    # keep README's operator count in lockstep (r13: the hand-written
    # "lists all N with signatures" drifted two rounds behind)
    with open("README.md") as f:
        readme = f.read()
    new = README_COUNT.sub(f"lists all {n_items} with signatures", readme)
    if new != readme:
        with open("README.md", "w") as f:
            f.write(new)
        print("synced operator count in README.md")


if __name__ == "__main__":
    main()
