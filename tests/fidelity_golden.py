"""Node-free fidelity golden: a digest of ``parse_pdf_bytes`` output for
every input the live differential tests send to the node reference, plus
the differential generators' documents for a few fixed seeds.

The live tests (``tests/test_node_differential.py`` and the two font-program
modules) compare this engine byte-for-byte with pdf.js, but only on a host
with node and the reference checkout. Their input lists are recorded here by
calling each live test with ``_run_differential`` swapped for a recorder, so
the golden and the live tests always share one set of inputs. Each input's
digest is the sha256 of ``(text, error, n_pages, page_spans)``.

The golden pins the engine's current output, which equals pdf.js as far as
the last live run showed. ``scripts/regen_golden.py`` prints each changed key
and rewrites the file.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import pathlib
import tempfile

GOLDEN = pathlib.Path(__file__).with_name("data") / "fidelity_golden.json"
GENERATOR_SEEDS = (702, 703, 704, 705)


def live_inputs() -> dict[str, bytes]:
    """``{"<live test>/<index>": pdf bytes}`` for every input list the live
    differential tests pass to ``_run_differential``."""
    from tests import test_cff_font, test_font_program
    from tests import test_node_differential as nd

    mods = (nd, test_cff_font, test_font_program)
    by_test: dict[str, list[bytes]] = {}
    current = [""]

    def record(tmp_path, pdfs) -> None:
        by_test.setdefault(current[0], []).extend(pdfs)

    saved = [m._run_differential for m in mods]
    try:
        for m in mods:
            m._run_differential = record
        for m in mods:
            for name, fn in sorted(vars(m).items()):
                if (
                    name.startswith("test_") and callable(fn)
                    and fn.__module__ == m.__name__
                    and "tmp_path" in inspect.signature(fn).parameters
                ):
                    current[0] = name
                    with tempfile.TemporaryDirectory() as td:
                        fn(pathlib.Path(td))
    finally:
        for m, f in zip(mods, saved):
            m._run_differential = f
    return {
        f"{name}/{i:03d}": pdf
        for name, pdfs in by_test.items()
        for i, pdf in enumerate(pdfs)
    }


def generator_inputs() -> dict[str, bytes]:
    """``{"s<seed>/<generator>-<i>": pdf bytes}``: 32 documents from each
    of the 32 differential generators, per seed in ``GENERATOR_SEEDS``."""
    from perfbench.inputs import small_docs

    return {
        f"s{seed}/{name}": doc
        for seed in GENERATOR_SEEDS
        for name, doc in small_docs(seed)
    }


def all_inputs() -> dict[str, bytes]:
    return {**live_inputs(), **generator_inputs()}


def digest(raw: bytes) -> list[str]:
    """``[input sha, output sha]`` for one document."""
    from pdf_parse_new_spark.kernels import pdfb

    r = pdfb.parse_pdf_bytes(raw)
    out = json.dumps([
        r["text"], r["error"], r["n_pages"],
        [list(s) for s in r["page_spans"]],
    ])
    return [
        hashlib.sha256(raw).hexdigest()[:10],
        hashlib.sha256(out.encode()).hexdigest()[:16],
    ]


def load() -> dict[str, list[str]]:
    return json.loads(GOLDEN.read_text())


def dump(digests: dict[str, list[str]]) -> None:
    lines = [
        f"{json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(digests.items())
    ]
    GOLDEN.write_text("{\n" + ",\n".join(lines) + "\n}\n")
