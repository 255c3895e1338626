"""Pure-Python parts of the benchmark: corpus determinism, span
self-time arithmetic and the unstolen-time correction."""

from pathlib import Path

import pytest

from corpus import generate, read_tree
from host import steal_share, unstolen_s
from spans import Span, Tracer, layer_self_times, self_times


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_same_seed_gives_byte_identical_tree(tmp_path):
    a = generate(tmp_path / "a", seed=7, total_mb=0.2, n_files=12)
    b = generate(tmp_path / "b", seed=7, total_mb=0.2, n_files=12)
    assert a == b
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert a["files"] == 12 and a["bytes"] == sum(map(len, _tree(tmp_path / "a").values()))


def test_different_seed_gives_different_tree_of_the_same_size(tmp_path):
    a = generate(tmp_path / "a", seed=7, total_mb=0.2, n_files=12)
    b = generate(tmp_path / "b", seed=8, total_mb=0.2, n_files=12)
    assert _tree(tmp_path / "a") != _tree(tmp_path / "b")
    # the seed changes the text, not the amount of work
    assert abs(a["bytes"] - b["bytes"]) < 0.02 * a["bytes"]
    sizes = lambda root: sorted(map(len, _tree(root).values()))  # noqa: E731
    assert max(sizes(tmp_path / "a")) < 1.1 * max(sizes(tmp_path / "b"))


def test_corpus_has_the_properties_the_workload_needs(tmp_path):
    generate(tmp_path / "c", seed=3, total_mb=0.5, n_files=40)
    docs = read_tree(tmp_path / "c")
    text = "".join(t for _, t in docs)
    assert any("؀" <= ch <= "ۿ" for ch in text)  # Arabic letters
    assert any(ch in text for ch in "ًٌٍَُِّْ")
    assert any(w[:1].isupper() for w in text.split())  # case variants
    assert "\t" in text and "\r\n" in text
    sizes = sorted(len(t.encode()) for _, t in docs)
    assert sizes[-1] > 5 * sizes[len(sizes) // 2]  # long tail
    assert all(uri.startswith("file:///") for uri, _ in docs)
    assert len({Path(uri).parent for uri, _ in docs}) > 4  # nested tree


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, None)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, parent=0),
        _span(2, "b", 2.0, 5.0, parent=0),  # overlaps a: union is [1, 5]
        _span(3, "c", 9.0, 12.0, parent=0),  # only [9, 10] lies inside root
        _span(4, "d", 1.5, 2.5, parent=1),
    ]
    own = self_times(spans)
    assert own[0] == 10.0 - 4.0 - 1.0
    assert own[1] == 2.0 - 1.0
    assert own[2] == 3.0
    assert own[3] == 3.0
    assert own[4] == 1.0


def test_layer_self_times_sum_to_the_root_duration():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "query", 0.5, 6.0, parent=0),
        _span(2, "plans.build", 0.5, 2.0, parent=1),
        _span(3, "plans.exec", 2.0, 6.0, parent=1),
        _span(4, "query", 6.0, 9.5, parent=0),
        _span(5, "plans.build", 6.0, 7.0, parent=4),
        _span(6, "other", 20.0, 21.0),  # outside the root's subtree
    ]
    layers = layer_self_times(spans, root=0)
    assert layers == {"pass": 1.0, "query": 2.5, "plans.build": 2.5, "plans.exec": 4.0}
    assert sum(layers.values()) == 10.0


def test_tracer_nests_spans_and_inherits_the_query():
    tr = Tracer()
    with tr.span("pass") as root:
        with tr.span("query", query="q1"):
            with tr.span("plans.build") as build:
                pass
    assert build.parent is not None and tr.spans[build.parent].name == "query"
    assert build.query == "q1" and root.parent is None
    assert root.start <= build.start <= build.end <= root.end


def test_steal_share_is_taken_over_the_time_the_vcpus_wanted():
    before = {"total": 1000, "steal": 10, "idle": 500}
    # 400 ticks passed: 200 idle, 150 busy, 50 stolen
    after = {"total": 1400, "steal": 60, "idle": 700}
    assert steal_share(before, after) == pytest.approx(50 / 200)
    assert unstolen_s(2.0, steal_share(before, after)) == pytest.approx(1.5)
    # no time wanted, nothing stolen
    assert steal_share(before, {"total": 1200, "steal": 10, "idle": 700}) == 0.0
