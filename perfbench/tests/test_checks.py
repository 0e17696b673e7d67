"""Output-check helpers: digests, renaming, rule identity, report maths."""

from __future__ import annotations

import json
import os
import struct

from run import HERE, ROOT, percentile, tail_report
from workloads import (
    MinePredict,
    _kind,
    _miner_atom,
    canon_rule,
    engine_hash,
    relabel,
    relabel_prefix,
    triple_digest,
    write_cache,
)


def test_triple_digest_is_order_independent_and_content_sensitive():
    a = {("x", "p", "y"), ("y", "q", "z"), ("z", "p", "x")}
    assert triple_digest(a) == triple_digest(set(sorted(a, reverse=True)))
    assert triple_digest(a)["count"] == 3
    b = (a - {("z", "p", "x")}) | {("z", "p", "y")}
    assert triple_digest(a) != triple_digest(b)


def test_relabel_keeps_term_kinds_and_is_injective():
    prefix = relabel_prefix(27)
    assert prefix.isalpha() and prefix != relabel_prefix(28)
    for term in ("Hong_Kong", "http://x.org/a", "wordnet_city_1"):
        new = relabel(term, prefix)
        assert new == prefix + term and _kind(new) == _kind(term)
    for term in ("1984", "-2.5", "true", "[1;2)", '"quoted"', "_:b0"):
        assert relabel(term, prefix) == term
    # a prefix that would turn text into a uri is refused
    assert relabel("-x:y", prefix) == "-x:y"


def test_canon_rule_ignores_variable_names_but_pins_head_positions():
    def rule(head, *body):
        return canon_rule(_miner_atom(head), [_miner_atom(a) for a in body])

    r1 = rule("?a|p|?b", "?a|q|?c", "?c|r|?b")
    r2 = rule("?a|p|?b", "?c|r|?b", "?a|q|?c")
    r3 = rule("?x|p|?y", "?x|q|?z", "?z|r|?y")
    assert r1 == r2 == r3
    assert rule("?a|p|?b", "?b|q|?c", "?c|r|?a") != r1
    # instantiated heads: the free variable's name does not matter
    assert rule("?b|p|C=X", "?b|q|C=1.0") == rule("?a|p|C=X", "?a|q|C=1")


def test_write_cache_frames(tmp_path):
    path = tmp_path / "t.cache"
    write_cache([("s", "p", "1984")], str(path))
    buf = path.read_bytes()
    (n,) = struct.unpack_from(">i", buf, 0)
    assert n == len(buf) - 4
    assert b"<s>" in buf and b"<p>" in buf and b"<1984>" not in buf


def test_percentiles_and_tail():
    xs = list(range(1, 22))
    assert percentile(xs, 50) == 11
    assert percentile([3.0], 90) == 3.0
    assert "no percentile" in tail_report([1.0] * 10)
    assert tail_report([float(x) for x in xs]).startswith("n=21: p52=")


def test_mine_predict_pins_one_result_per_size(tmp_path):
    with open(os.path.join(HERE, "expected.json")) as f:
        pins = json.load(f)["mine_predict"]
    assert set(pins) == {"full", "tiny"}
    for size in ("full", "tiny"):
        assert set(pins[size]) == set(MinePredict.RESULT_KEYS)
    wl = MinePredict(None, ROOT, str(tmp_path), 11, "full")
    assert wl.cache.endswith("mine_predict-full-50000-11")
    wl.pinned = None  # a missing pin fails the op instead of passing it
    assert wl.check({})


def test_engine_hash_follows_the_sources(tmp_path):
    pkg = tmp_path / "rdfrules_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    before = engine_hash(str(tmp_path))
    assert engine_hash(str(tmp_path)) == before
    (pkg / "a.py").write_text("x = 2\n")
    assert engine_hash(str(tmp_path)) != before
