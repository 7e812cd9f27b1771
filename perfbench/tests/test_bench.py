"""Tests of the benchmark's generator and output checks (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import queries  # noqa: E402


def test_generators_are_deterministic_in_the_seed():
    assert gen.crawl_corpus(5, 300).pages.equals(gen.crawl_corpus(5, 300).pages)
    assert not gen.crawl_corpus(5, 300).pages.equals(gen.crawl_corpus(6, 300).pages)
    a, b = gen.kg_corpus(5, 400), gen.kg_corpus(5, 400)
    assert a.pages.equals(b.pages) and a.triples == b.triples and a.components == b.components


def test_crawl_mix_follows_the_stated_shares():
    c = gen.crawl_corpus(1, 4000)
    share = Counter("retry" if k in ("nquads", "trig", "ntriples-star") else k for k in c.kinds)
    for kind, want in gen.CRAWL_MIX:
        assert abs(share[kind] / 4000 - want) < 0.03, kind
    texts = c.pages.column("text").to_pylist()
    assert all((t is None) == (k == "html") for t, k in zip(texts, c.kinds))
    assert sum(c.is_error) == c.kinds.count("malformed")


def test_crawl_record_matches_the_programs_per_document_parse():
    """The generator's expected triples, error rows and formats agree with
    the per-batch parse function the Spark stage runs."""
    from parser_rdf_spark.parse import _parse_batch

    c = gen.crawl_corpus(3, 1500)
    p = c.pages
    rb = _parse_batch(p.column("url").to_pylist(), p.column("text").to_pylist(),
                      p.column("html").to_pylist(), None, True, True)
    n = rb.column("n_triples").to_pylist()
    err = rb.column("error_stage").to_pylist()
    fmt = rb.column("format").to_pylist()
    for i, kind in enumerate(c.kinds):
        assert (n[i] or 0) == c.n_triples[i], (i, kind)
        assert (err[i] is not None) == c.is_error[i], (i, kind)
        if not c.is_error[i]:
            assert fmt[i] == gen.EXPECTED_FORMAT[kind], (i, kind)


def test_kg_record_matches_its_pages_and_components():
    from parser_rdf_spark.parse import _parse_batch

    c = gen.kg_corpus(2, 1500)
    p = c.pages
    rb = _parse_batch(p.column("url").to_pylist(), p.column("text").to_pylist(),
                      p.column("html").to_pylist(), None, True, True)
    assert rb.column("n_triples").to_pylist() == c.n_triples
    assert sum(c.n_triples) == len(c.triples) == len(set(c.triples))

    # union-find over the equivalence edges reproduces the component record
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, pred, o, _, _ in c.triples:
        if pred in (gen.SAMEAS, gen.SEEALSO):
            parent[find(s)] = find(o)
    groups: dict[str, list[str]] = {}
    for v in parent:
        groups.setdefault(find(v), []).append(v)
    assert {min(g): len(g) for g in groups.values()} == c.components
    assert max(c.components.values()) >= 48  # long chains are present


def test_query_expectations_on_a_hand_made_graph():
    t = [
        ("a", gen.TYPE, queries.TERM_CLASS, "iri", None),
        ("a", gen.LABEL, "A", "literal", "en"),
        ("a", gen.LABEL, "A (de)", "literal", "de"),
        ("b", gen.TYPE, f"{gen.V}Class2", "iri", None),
        ("b", gen.LABEL, "B", "literal", "en"),
        ("a", gen.KNOWS, "b", "iri", None),
        ("b", gen.WORKS_FOR, "o", "iri", None),
        ("o", gen.LOCATED_IN, "c", "iri", None),
        ("c", gen.LABEL, "C", "literal", "en"),
        ("a", gen.SCORE, "950", "integer", None),
        ("b", gen.SCORE, "10", "integer", None),
        ("a", gen.COMMENT, "note", "literal", None),
    ]
    want = queries.expected(t)
    assert want["term_pruned"]["rows"] == 1
    assert want["bgp_chain"]["rows"] == 1
    assert want["group_count"] == {"rows": 7, "n_sum": 12}
    assert want["optional_filter"]["rows"] == 1
    assert want["union"]["rows"] == 2
    assert want["path_seq"]["rows"] == 1
    assert want["order_limit"] == {"rows": 3, "l": ["A", "A (de)", "B"]}


def test_query_check_rejects_wrong_answers():
    want = {"rows": 2, "n_sum": 5}
    assert queries.check("group_count", [{"n": 2}, {"n": 3}], want)
    assert not queries.check("group_count", [{"n": 2}, {"n": 2}], want)
    assert not queries.check("group_count", [{"n": 5}], want)
    lw = {"rows": 2, "l": ["A", "B"]}
    assert queries.check("order_limit", [{"l": "A"}, {"l": "B"}], lw)
    assert not queries.check("order_limit", [{"l": "B"}, {"l": "A"}], lw)


def test_benchmark_json_names_match_what_the_runner_reports():
    import run
    import sweep

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == sweep.PER_LAYER


def test_runner_refuses_a_checkout_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "parse_crawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.mark.parametrize("values,q,want", [([1.0], 50, 1.0), ([1.0, 3.0], 50, 2.0),
                                           ([0.0, 10.0], 90, 9.0)])
def test_percentile(values, q, want):
    import run

    assert run.percentile(values, q) == pytest.approx(want)
