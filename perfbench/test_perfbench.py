"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench -q

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from corpus import GLOBAL_TEMPLATES, CorpusShape, generate  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def spark():
    from boilerplate_buster_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def _grams(text: str, n: int = 3) -> set[tuple[str, ...]]:
    from boilerplate_buster_spark.core.tokenize import tokenize

    toks = tokenize(text)
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


@pytest.mark.parametrize("html", [False, True])
def test_golden_matches_python_oracle(spark, html):
    from boilerplate_buster_spark.core.extract import index_phrases, strip_boilerplate
    from boilerplate_buster_spark.core.htmlparse import html_to_text

    shape = CorpusShape(n_pages=40, n_sites=7, html=html, template_tenths=5)
    by_len = index_phrases(shape.templates())
    rows = generate(spark, shape, seed=5, partitions=2).collect()
    assert len(rows) == shape.n_pages
    for r in rows:
        text = html_to_text(bytes(r["html"])) if html else r["text"]
        got, spans = strip_boilerplate(text, by_len)
        assert got == r["golden_text"], r["url"]
        assert [tuple(s) for s in r["golden_spans"]] == spans, r["url"]


def test_generator_is_seeded(spark):
    shape = CorpusShape(n_pages=20, n_sites=3, html=False)

    def rows(seed, parts):
        return sorted(tuple(r) for r in generate(spark, shape, seed, parts)
                      .select("url", "text").collect())

    assert rows(3, 1) == rows(3, 4)
    assert rows(3, 1) != rows(4, 1)


def test_templates_are_3gram_disjoint():
    shape = CorpusShape(n_pages=1, n_sites=2000, html=False)
    seen: dict[tuple[str, ...], str] = {}
    for t in shape.templates():
        for g in _grams(t):
            assert g not in seen, f"{t!r} shares {g} with {seen[g]!r}"
            seen[g] = t
    assert len(shape.templates()) == len(GLOBAL_TEMPLATES) + 2000


def test_benchmark_json_names_and_limits():
    import layers
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    names = [w["name"] for w in spec["workloads"]] + e2e + per_layer
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert len(set(names)) == len(names)
    assert 1 <= len(e2e) <= 16 and 1 <= len(per_layer) <= 128
    assert "setup_s" in e2e
    assert [w["name"] for w in spec["workloads"]] == list(workloads.NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == dict(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == dict(layers.PER_LAYER)
