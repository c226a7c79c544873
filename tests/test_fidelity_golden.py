"""Tier-1 fidelity golden: every live differential input and every seeded
generator document must parse to its recorded digest (see
``tests/fidelity_golden.py``). A change here is a change of extracted text;
regenerate with ``python scripts/regen_golden.py`` only together with a
CHANGES entry that names each changed key and its cause.

The check runs twice: as deployed (C replay, jsvm for the pages it cannot
take) and with the C path off, where jsvm renders every page, as on a host
without a C compiler."""

from __future__ import annotations

import pytest

from pdf_parse_new_spark.kernels import cinterp
from tests import fidelity_golden as fg


@pytest.mark.parametrize("c_path", [True, False], ids=["c", "jsvm-only"])
def test_every_input_matches_its_golden_digest(c_path, monkeypatch):
    if c_path and not cinterp.AVAILABLE:
        pytest.skip("no C compiler")
    monkeypatch.setattr(cinterp, "AVAILABLE", c_path)
    golden = fg.load()
    inputs = fg.all_inputs()
    assert sorted(inputs) == sorted(golden), "golden keys out of date"
    changed = [
        k for k, raw in inputs.items() if fg.digest(raw) != golden[k]
    ]
    assert not changed, f"{len(changed)} changed: {changed[:20]}"
