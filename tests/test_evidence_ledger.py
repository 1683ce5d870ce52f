"""The README's environment-gated-tests ledger must track exactly the
skip gates that exist in tests/."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_env_gated_skip_ledger_is_exact():
    """The README's environment-gated-tests table must track EXACTLY
    the gate sites that exist in tests/ — a new
    skipif/importorskip/pytest.skip landing without a ledger row (or a
    ledger row whose gate site was removed) reddens here, so the
    unexercised-lane count stays a maintained number."""
    ledger_sec = re.search(
        r"### Environment-gated tests.*?\n## ", (REPO / "README.md").read_text(), re.S
    )
    assert ledger_sec, "README lost the environment-gated-tests ledger"
    ledger = ledger_sec.group(0)

    # The gate sites on disk (mechanical sweep, mirrors how this list
    # was derived).  Intra-suite ordering guards (skip reasons that
    # reference in-suite state, e.g. "covered below") are not
    # environment gates and are excluded.
    gates = []
    for p in sorted((REPO / "tests").glob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"pytest\.skip\(|skipif\(|importorskip\(", line):
                gates.append((p.name, i, line.strip()))
    env_gates = [
        g for g in gates if "covered below" not in g[2]
    ]
    expected_files = {
        "test_multimodal.py",
        "test_scale_gate.py",
    }
    assert {g[0] for g in env_gates} == expected_files, (
        f"gate sites drifted: {sorted({g[0] for g in env_gates})} — update the "
        "README ledger AND this test's expected set together"
    )
    for f in expected_files:
        assert f.removesuffix(".py").replace("test_", "tests/test_") + ".py" in ledger or f in ledger, (
            f"README ledger has no row for gate site {f}"
        )
