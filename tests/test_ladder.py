"""The shared axis-ladder runner (tools/ladder.py).

The behaviour pin: every committed axis receipt is reproduced exactly
by ``summarize`` from its own recorded parameters and per-rung results
— payload keys, rung fields, flag decisions and divergence map — so
the four axes are measured and judged by one code path without moving
a committed number.
"""

from __future__ import annotations

import json
import os

import pytest

from tools import ladder, scale_dim, scale_doclen, scale_jsonsize, scale_smoke

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPECS = (scale_dim.SPEC, scale_doclen.SPEC, scale_jsonsize.SPEC, scale_smoke.SPEC)


@pytest.mark.parametrize("spec", SPECS, ids=lambda s: s.metric)
def test_summarize_reproduces_committed_artifact(spec):
    with open(os.path.join(REPO, spec.artifact)) as fh:
        art = json.load(fh)
    params = {k: art[k] for k in ladder._param_names(spec)}
    assert ladder.summarize(spec, params, art["results"]) == art


def _doclen_results(target: str) -> list[dict]:
    """Three doclen rungs: a falling family, and ``target`` whose
    seconds diverge at rung 2 (x1.6 vs a ~0.7 family) while its output
    rows grow x28 — rows outgrowing seconds."""
    secs = {name: [1.0, 0.9, 0.7] for name in scale_doclen.STAGES}
    rows = {name: [10, 10, 10] for name in scale_doclen.STAGES}
    secs[target] = [1.0, 1.2, 1.6]
    rows[target] = [100, 640, 2800]
    return [
        {
            "mult": m,
            "n_docs": 1000 // m,
            "tokens_per_doc": 64 * m,
            "stages": {
                s: {"sec": secs[s][i], "rows": rows[s][i]} for s in scale_doclen.STAGES
            },
        }
        for i, m in enumerate(scale_doclen.MULTS)
    ]


def test_output_bound_waiver_is_limited_to_declared_stages():
    spec = scale_doclen.SPEC
    params = {"base_docs": 1000, "base_tokens": 64}
    assert spec.output_bound == ("mm_neardup",)

    # an undeclared stage whose rows outgrow its seconds is not waived
    out = ladder.summarize(spec, params, _doclen_results("x3_ngram_jaccard"))
    assert out[spec.flag_key] == ["x3_ngram_jaccard"]
    assert out["divergence"]["x3_ngram_jaccard"]["divergent_rungs"] == [2]
    assert "output_bound_exempt_rungs" not in out["divergence"]["x3_ngram_jaccard"]

    # the same numbers on the declared pair-emitting stage are exempt,
    # and the receipt records the waived rung
    out = ladder.summarize(spec, params, _doclen_results("mm_neardup"))
    assert out[spec.flag_key] == []
    assert out["divergence"]["mm_neardup"]["divergent_rungs"] == []
    assert out["divergence"]["mm_neardup"]["output_bound_exempt_rungs"] == [2]
