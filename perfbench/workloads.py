"""The benchmark's two workloads, ``kg_build`` and ``mine_predict_const``;
the second runs the ``MinePredict`` and ``MineConstLocal`` tasks in one op.

Each workload makes its inputs from the seed (``generate``, pure Python,
cached on disk and never timed). What needs Spark is made once per engine
version for every workload together (``prepare_shared``: inputs that take
the engine's own generator or parser, and fixed-input cross-checks against
an executed reference), in a separate process, so a run with fresh inputs
and a run with cached ones measure a JVM in the same state, and every run
after the first in a checkout costs about the same. The measuring process
loads the inputs into the engine (``load``), warms up (``warmup``), runs one
operation at a time (``op``) and checks each op's output outside the op's
timing (``check``). The engine is driven only through the public functions
of its modules; spans wrap those calls.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re
import shutil
import struct
from contextlib import contextmanager
from itertools import permutations

import numpy as np
from pyspark.sql import functions as F

FIXTURES = os.path.join("tests", "fixtures", "refexec")
TOL = 1e-9


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, ".complete"))


def _fresh_dir(path: str) -> str:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path


def _mark_complete(path: str) -> None:
    with open(os.path.join(path, ".complete"), "w") as f:
        f.write("ok\n")


def engine_hash(root: str) -> str:
    """Hash of the engine's Python sources. Cached inputs and cross-check
    results live under it, so a change to the engine makes them again."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "rdfrules_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode("utf-8") + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def triple_digest(triples: set) -> dict:
    """Order-independent digest of a set of (s, p, o) string triples: count,
    XOR and sum mod 2**64 of an 8-byte blake2b per tab-joined triple."""
    x = total = 0
    for t in triples:
        h = int.from_bytes(hashlib.blake2b(
            "\t".join(t).encode("utf-8"), digest_size=8).digest(), "big")
        x ^= h
        total = (total + h) % 2**64
    return {"count": len(triples), "digest": f"{x:016x}-{total:016x}"}


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, spark, root: str, work: str, seed: int, size: str):
        # spark is None while inputs are generated without Spark
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.size = size
        self.n = self.sizes[size]
        self.cache_root = os.path.join(work, "cache",
                                       "engine-" + engine_hash(root))
        self.cache = self.input_cache(seed)

    def fixture(self, name: str) -> str:
        return os.path.join(self.root, FIXTURES, name)

    # interface ---------------------------------------------------------
    def input_cache(self, key) -> str:
        n = "" if self.n is None else f"-{self.n}"
        return os.path.join(self.cache_root,
                            f"{self.name}-{self.size}{n}-{key}")

    def shared_ready(self) -> bool:
        """Everything ``prepare_shared`` makes is cached."""
        return True

    def prepare_shared(self) -> None:
        """Make, with ``self.spark``, what needs Spark: seed-independent
        inputs and cross-checks, once per engine version."""

    def ready(self) -> bool:
        """The seed's inputs are cached."""
        return _complete(self.cache)

    def generate(self) -> None:
        """Make the seed's inputs under ``self.cache``, without Spark."""
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def crosscheck(self) -> list[str]:
        """Fixed-input check against an executed reference; mismatches."""
        return []

    def warmup(self) -> None:
        """Untimed, unchecked warm-up op(s), part of set-up."""

    def op(self, i: int, tr):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def work_triples(self, out) -> int:
        """Triples the op committed or mined over, for ``triples_per_s``."""
        raise NotImplementedError

    def cleanup(self, out) -> None:
        pass

    def describe(self) -> dict:
        raise NotImplementedError


# ---------------------------------------------------------------- kg_build


@contextmanager
def pipeline_spans(tr, op: int):
    """While tracing, wrap the layer functions ``pipeline.run_pipeline``
    calls so each runs inside its own span and its output is forced at the
    boundary. Restores the originals on exit."""
    if not tr.enabled:
        yield
        return
    from rdfrules_spark import dictionary, extraction, linking, pipeline

    saved = []

    def wrap(mod, attr, span_name, after):
        orig = getattr(mod, attr)

        def traced(*args, **kwargs):
            with tr.span(span_name, op) as s:
                return after(s, orig(*args, **kwargs), *args)

        saved.append((mod, attr, orig))
        setattr(mod, attr, traced)

    def force(s, out, *_):
        return tr.force(out, s)

    def canon(s, out, _rels, sameas):
        s.count("sameas_edges", sameas.count())
        canon_rels, canon_map = out
        canon_map = tr.force(canon_map, s, "merged_nodes")
        return tr.force(canon_rels, s), canon_map

    def terms(s, out, *_):
        return tr.force(out, s, "terms")

    def stats(s, out, *_):
        return tr.force(out, s, "predicates")

    wrap(extraction, "extract_statements", "extraction", force)
    wrap(linking, "build_link_map", "linking.map", force)
    wrap(linking, "apply_link_map", "linking.apply", force)
    wrap(pipeline, "canonicalize_triples", "canonicalize", canon)
    wrap(dictionary, "dictionary_from_terms", "dictionary", terms)
    wrap(dictionary, "encode_triples", "dictionary", force)
    wrap(dictionary, "predicate_stats", "dictionary", stats)
    try:
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


class KgBuild(Workload):
    """IceTable scan -> run_pipeline -> write_triple_store_ice per op."""

    name = "kg_build"
    sizes = {"full": 6_000, "tiny": 400}

    DOCS_PER_FILE = 1_000

    def generate(self) -> None:
        """Documents of ``corpus.synth_documents(n, seed)`` written with
        pyarrow, one file per 1,000 docs (the generator's own partitioning),
        plus the reference extractor's canonical triples."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from rdfrules_spark import corpus
        from rdfrules_spark.reference_extractor import reference_triples

        _fresh_dir(self.cache)
        docs_dir = os.path.join(self.cache, "docs")
        os.makedirs(docs_dir)
        n_ent = corpus.n_entities_for(self.n)
        span_t = pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32()),
        ]))
        schema = pa.schema([("doc_id", pa.string()), ("spans", span_t)])
        docs = []
        for lo in range(0, self.n, self.DOCS_PER_FILE):
            part = [corpus.gen_doc(i, n_ent, self.seed)
                    for i in range(lo, min(lo + self.DOCS_PER_FILE, self.n))]
            docs.extend(part)
            table = pa.table({
                "doc_id": [d for d, _ in part],
                "spans": [[{"kind": k, "text": t, "media_ref": m, "offset": o}
                           for k, t, m, o in spans] for _, spans in part],
            }, schema=schema)
            pq.write_table(table, os.path.join(docs_dir,
                                               f"part-{lo:08d}.parquet"))
        expected = reference_triples([
            (d, [{"kind": k, "text": t, "media_ref": m} for k, t, m, _ in sp])
            for d, sp in docs
        ])
        with gzip.open(os.path.join(self.cache, "expected.tsv.gz"),
                       "wt", encoding="utf-8") as f:
            for t in sorted(expected):
                f.write("\t".join(t) + "\n")
        with open(os.path.join(self.cache, "pinned.json"), "w") as f:
            json.dump(triple_digest(expected), f)
        _mark_complete(self.cache)

    def load(self) -> None:
        """IceTable create + append of the generated documents."""
        from rdfrules_spark import corpus
        from rdfrules_spark.sources.icetable import IceTable

        path = os.path.join(self.work, "docs-table")
        if os.path.exists(path):
            shutil.rmtree(path)
        docs = self.spark.read.schema(corpus.DOCUMENTS_SCHEMA).parquet(
            os.path.join(self.cache, "docs"))
        self.table = IceTable.create(self.spark, path, docs.schema)
        self.table.append(docs, idempotency_key=f"perfbench-{self.seed}")
        self.n_entities = corpus.n_entities_for(self.n)
        with open(os.path.join(self.cache, "pinned.json")) as f:
            self.pinned = json.load(f)
        with gzip.open(os.path.join(self.cache, "expected.tsv.gz"), "rt",
                       encoding="utf-8") as f:
            self.expected = {tuple(ln.rstrip("\n").split("\t")) for ln in f}
        self.stores = _fresh_dir(os.path.join(self.work, "stores"))

    def op(self, i: int, tr):
        from rdfrules_spark.pipeline import run_pipeline
        from rdfrules_spark.sources.icetable import write_triple_store_ice

        store = os.path.join(self.stores, f"op-{i}")
        with tr.span("icetable.scan", i) as s:
            docs = self.table.scan()
            if tr.enabled:
                s.count("files", len(self.table.plan_files()))
            docs = tr.force(docs, s)
        with pipeline_spans(tr, i):
            res = run_pipeline(self.spark, docs, n_entities=self.n_entities)
        with tr.span("icetable.commit", i) as s:
            t = write_triple_store_ice(res.triples, store)
            summary = t.snapshots()[-1]["summary"]
            s.count("files", summary["added-files"])
            s.count("bytes", summary["added-bytes"])
            s.count("rows", summary["added-records"])
        return {"store": store, "res": res, "summary": summary}

    def warmup(self) -> None:
        """One op on the workload's own input; every measured op on the
        same input is checked."""
        from tracer import Tracer

        self.cleanup(self.op(-1, Tracer(enabled=False)))

    def _decoded(self, out) -> set:
        """The committed store, decoded back to string triples."""
        from rdfrules_spark.sources.icetable import IceTable

        store = IceTable.load(self.spark, out["store"]).scan()
        d = out["res"].dict_df.select("id", "item")
        for c in ("s", "p", "o"):
            store = store.join(
                d.withColumnRenamed("id", c).withColumnRenamed("item", c + "_"),
                c,
            )
        rows = store.select("s_", "p_", "o_").collect()
        return {(r[0], r[1], r[2]) for r in rows}

    def check(self, out) -> list[str]:
        from rdfrules_spark.reference_extractor import precision_recall

        got = self._decoded(out)
        bad = []
        digest = triple_digest(got)
        if digest != self.pinned:
            bad.append(f"kg_build store {digest} != pinned {self.pinned}")
        if out["summary"]["added-records"] != self.pinned["count"]:
            bad.append("kg_build committed record count "
                       f"{out['summary']['added-records']} != "
                       f"{self.pinned['count']}")
        p, r = precision_recall(got, self.expected)
        if p < 0.95 or r < 0.95:
            bad.append(f"kg_build precision/recall {p:.4f}/{r:.4f} < 0.95")
        return bad

    def work_triples(self, out) -> int:
        return out["summary"]["added-records"]

    def cleanup(self, out) -> None:
        out["res"].statements.unpersist()
        shutil.rmtree(out["store"], ignore_errors=True)

    def describe(self) -> dict:
        return {"size": self.size, "docs": self.n,
                "encoded_triples": self.pinned["count"]}


# ------------------------------------------------------------ mine_predict


#: task9 semantics: var-only, L<=3, injective, minHC 0.01
def _task9_params():
    from rdfrules_spark.mining.amie import MiningParams

    return MiningParams(
        min_head_size=100, min_support=1, min_head_coverage=0.01,
        injective=True, reflexive_head_sizes=True,
    )


def _task9_atoms(r) -> str:
    """Body of a var-only rule row in the executed-reference dump's form."""
    def atom(q, d, x, y):
        return f"({x} <{q}> {y})" if d == "f" else f"({y} <{q}> {x})"

    if r["shape"] == "l2":
        b = [atom(r["q"], r["d1"], "?a", "?b")]
    elif r["shape"] == "l3v2":
        b = [atom(r["q"], r["d1"], "?a", "?b"),
             atom(r["r"], r["d2"], "?a", "?b")]
    else:  # l3v3: B1 over (a, c), B2 over (b, c)
        b = [atom(r["q"], r["d1"], "?a", "?c"),
             atom(r["r"], r["d2"], "?b", "?c")]
    return " ^ ".join(sorted(b))


class MinePredict(Workload):
    """AMIE mining + CWA confidence + rule-based prediction on a 90/10 split.

    The op computes CWA confidence only. PCA confidence is never below CWA
    confidence, so task9's PCA >= 0.1 filter keeps every rule CWA >= 0.1
    keeps: the rules, predictions and pins are the same, and the op skips
    the PCA pass, which cost about 22 s of a 53 s op at 100k rows on 4
    cores. PCA values are checked once per engine version by the task9
    cross-check."""

    name = "mine_predict"
    sizes = {"full": 50_000, "tiny": 3_000}
    RESULT_KEYS = ("rules", "tasks", "hits_1", "hits_3", "hits_10", "mrr")
    SPLITS = ("train", "test")

    def _crosscheck_path(self) -> str:
        return os.path.join(self.cache_root, "task9-crosscheck.json")

    def _base(self) -> str:
        return self.input_cache("base")

    def shared_ready(self) -> bool:
        return (os.path.exists(self._crosscheck_path())
                and _complete(self._base()))

    def prepare_shared(self) -> None:
        """The task9 cross-check, and the distinct rows of ``synth_kg``
        split 90/10 by ``pmod(xxhash64(s, p, o), 10) == 0`` into train and
        test, each one parquet file."""
        from rdfrules_spark.corpus import synth_kg

        if not os.path.exists(self._crosscheck_path()):
            bad = self._task9()
            os.makedirs(self.cache_root, exist_ok=True)
            with open(self._crosscheck_path(), "w") as f:
                json.dump(bad, f)
        _fresh_dir(self._base())
        kg = synth_kg(self.spark, self.n).distinct()
        test = F.pmod(F.xxhash64("s", "p", "o"), F.lit(10)) == 0
        for split, rows in zip(self.SPLITS, (kg.where(~test), kg.where(test))):
            rows.coalesce(1).write.parquet(os.path.join(self._base(), split))
        _mark_complete(self._base())

    def generate(self) -> None:
        """The split with every entity and predicate name prefixed with the
        seed's tag: an isomorphic copy that keeps the names' order, so the
        mined rules, the rankings and the pins are the same for every
        seed."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _fresh_dir(self.cache)
        prefix = relabel_prefix(self.seed)
        for split in self.SPLITS:
            t = pq.read_table(os.path.join(self._base(), split))
            pq.write_table(
                pa.table({c: [relabel(x, prefix) for x in t[c].to_pylist()]
                          for c in ("s", "p", "o")}),
                os.path.join(self.cache, f"{split}.parquet"))
        _mark_complete(self.cache)

    def load(self) -> None:
        """The seed's train and test split, cached."""
        self.train, self.test = (
            self.spark.read.parquet(
                os.path.join(self.cache, f"{split}.parquet")).cache()
            for split in self.SPLITS)
        self.n_train = self.train.count()
        self.n_test = self.test.count()
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "expected.json")) as f:
            self.pinned = json.load(f)[self.name].get(self.size)

    def crosscheck(self) -> list[str]:
        with open(self._crosscheck_path()) as f:
            return json.load(f)

    def _task9(self) -> list[str]:
        """synth_kg at 50k under task9 semantics must reproduce the
        executed-reference dump (138 rules). The input is fixed, so this
        runs once per engine version, with the shared inputs."""
        from rdfrules_spark.corpus import synth_kg
        from rdfrules_spark.mining.amie import mine
        from rdfrules_spark.mining.measures import confidences

        dump = {}
        with gzip.open(self.fixture("task9_synth50k.tsv.gz"), "rt",
                       encoding="utf-8") as f:
            for line in f:
                head, _, body, sup, hs, cwa, pca = line.rstrip("\n").split("\t")
                dump[(head, body)] = (int(sup), int(hs), float(cwa),
                                      float(pca))
        t = synth_kg(self.spark, 50_000).distinct().cache()
        out = confidences(mine(t, _task9_params()), t, cwa=True, pca=True,
                          min_confidence=0.1, injective=True)
        got = {
            (f"(?a <{r['p']}> ?b)", _task9_atoms(r)):
            (r["support"], r["head_size"], r["cwa_confidence"],
             r["pca_confidence"])
            for r in out.where(F.col("pca_confidence") >= 0.1).collect()
        }
        t.unpersist()
        return _compare_rules("task9 50k cross-check", got, dump)

    def op(self, i: int, tr):
        from rdfrules_spark.mining.amie import mine
        from rdfrules_spark.mining.measures import confidences
        from rdfrules_spark.prediction import (
            evaluate_ranking,
            predict_triples,
            prediction_tasks,
            score_predictions,
        )

        with tr.span("mining.amie", i) as s:
            rules = tr.force(mine(self.train, _task9_params()), s)
        with tr.span("mining.measures", i) as s:
            kept = confidences(
                rules, self.train, cwa=True, pca=False, min_confidence=0.1,
                injective=True,
            ).persist()
            n_rules = kept.count()
            s.count("rows", n_rules)
        try:
            with tr.span("prediction.predict", i) as s:
                preds = tr.force(predict_triples(
                    kept, self.train, injective=True, only_covered=True,
                    covered=self.test,
                ), s)
            with tr.span("prediction.rank", i) as s:
                tasks = tr.force(prediction_tasks(
                    score_predictions(preds), self.train, top_k=10), s)
            with tr.span("prediction.evaluate", i) as s:
                ev = evaluate_ranking(tasks, self.test, train=self.train) \
                    .first()
                s.count("rows", ev["n_tasks"])
            return {"rules": n_rules, "tasks": ev["n_tasks"],
                    "hits_1": ev["hits_1"], "hits_3": ev["hits_3"],
                    "hits_10": ev["hits_10"], "mrr": ev["mrr"]}
        finally:
            kept.unpersist()

    def check(self, out) -> list[str]:
        if self.pinned is None:
            return [f"mine_predict: expected.json has no {self.size} pin"]
        bad = []
        for k in self.RESULT_KEYS:
            a, b = out[k], self.pinned[k]
            if (a != b) if isinstance(b, int) else abs(a - b) > TOL:
                bad.append(f"mine_predict {k} {a!r} != pinned {b!r}")
        return bad

    def work_triples(self, out) -> int:
        return self.n_train

    def describe(self) -> dict:
        return {"size": self.size, "synth_kg_rows": self.n,
                "relabel_prefix": relabel_prefix(self.seed),
                "train_triples": self.n_train, "test_triples": self.n_test}


def _compare_rules(what: str, got: dict, want: dict) -> list[str]:
    """Rule-set equality plus support/head size exact and CWA/PCA to TOL."""
    only_want = set(want) - set(got)
    only_got = set(got) - set(want)
    if only_want or only_got:
        return [f"{what}: {len(only_want)} rules missing, "
                f"{len(only_got)} unexpected; e.g. "
                f"{sorted(only_want)[:1]} / {sorted(only_got)[:1]}"]
    bad = [k for k, w in want.items()
           if got[k][:2] != w[:2] or abs(got[k][2] - w[2]) > TOL
           or abs(got[k][3] - w[3]) > TOL]
    if bad:
        return [f"{what}: {len(bad)} rules with other measures, e.g. "
                f"{bad[0]}: {got[bad[0]]} != {want[bad[0]]}"]
    return []


# -------------------------------------------------------- mine_const_local

_NUM = re.compile(r"^-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_ATOM = re.compile(r"^\(\s*(\S+)\s+(\S+)\s+(.+?)\s*\)$")
_KIND_NUM = re.compile(r"^-?[0-9]+(\.[0-9]+)?$")
_KIND_INTERVAL = re.compile(r"^\[[^;]*;[^\]]*\)$")
_KIND_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _kind(x: str) -> str:
    """Python mirror of dictionary.term_kind."""
    if _KIND_NUM.match(x):
        return "number"
    if x in ("true", "false"):
        return "boolean"
    if _KIND_INTERVAL.match(x):
        return "interval"
    if _KIND_URI.match(x) or x.startswith("_:"):
        return "uri"
    return "text"


def _norm_const(v: str) -> str:
    """Constant identity shared by the dump and the miner output: quotes
    dropped, integral doubles in int range collapsed to the int form."""
    if len(v) >= 2 and v[0] == v[-1] == '"':
        v = v[1:-1]
    if _NUM.match(v):
        try:
            d = float(v)
            if d == int(d) and -(2**31) <= d <= 2**31 - 1:
                return str(int(d))
        except (ValueError, OverflowError):
            pass
    return v


def relabel_prefix(seed: int) -> str:
    """Letters-only, seed-specific prefix (``s`` + base-26 digits + ``x``)."""
    digits, n = [], seed
    while True:
        n, d = divmod(n, 26)
        digits.append(chr(97 + d))
        if n == 0:
            break
    return "s" + "".join(reversed(digits)) + "x"


def relabel(term: str, prefix: str) -> str:
    """Prefix an entity or predicate name; numbers, booleans, intervals,
    quoted literals and blank nodes stay as they are, as does any name the
    prefix would move to another term kind."""
    if term.startswith(('"', "_:")) or _kind(term) not in ("uri", "text"):
        return term
    new = prefix + term
    return new if _kind(new) == _kind(term) else term


def _frame(payload: bytes) -> bytes:
    return struct.pack(">i", len(payload)) + payload


def _long_uri(term: str, kind: str) -> bytes:
    if kind == "uri" and not term.startswith("_:"):
        term = f"<{term}>"
    return _frame(b"\x01" + _frame(term.encode("utf-8")))


def write_cache(triples, path: str) -> None:
    """Write (s, p, o) canonical string triples in the reference Dataset
    ``.cache`` format the way refcache.write_dataset_cache does by default
    (every item a LongUri; s and p bracketed, o bracketed when its term kind
    is uri), without a Spark job."""
    g = _long_uri("", "text")
    with open(path, "wb") as out:
        for s, p, o in triples:
            t = _long_uri(s, "uri") + _long_uri(p, "uri") + _long_uri(o, _kind(o))
            out.write(_frame(g + _frame(t)))


def canon_rule(head: tuple, body: list[tuple]) -> tuple:
    """Rule identity under variable renaming: head variables pinned by head
    position, extra variables renamed to the lexicographically smallest
    sorted body. Atoms are (term, pred, term); a term is ("v", name) or
    ("c", value)."""
    pin = {}
    for pos, t in ((0, head[0]), (1, head[2])):
        if t[0] == "v":
            pin.setdefault(t[1], pos)

    def enc(t, m):
        return ("v", m[t[1]]) if t[0] == "v" else t

    extras = sorted({t[1] for a in body for t in (a[0], a[2])
                     if t[0] == "v" and t[1] not in pin})
    h = (enc(head[0], pin), head[1], enc(head[2], pin))
    best = None
    for perm in permutations(range(2, 2 + len(extras))):
        m = dict(pin, **dict(zip(extras, perm)))
        b = tuple(sorted((enc(a[0], m), a[1], enc(a[2], m)) for a in body))
        if best is None or b < best:
            best = b
    return (h, best)


def _dump_term(x: str, prefix: str):
    if x.startswith("?"):
        return ("v", x)
    if x.startswith("<") and x.endswith(">"):
        x = x[1:-1]
    elif x.startswith('"'):  # quoted literal: never renamed
        return ("c", _norm_const(x))
    return ("c", _norm_const(relabel(x, prefix)))


def _dump_parts(s: str) -> tuple:
    m = _ATOM.match(s.strip())
    if not m:
        raise ValueError(f"unparsable dump atom {s!r}")
    return m.groups()


def _dump_pred(s: str) -> str:
    return _dump_parts(s)[1][1:-1]


def _dump_atom(s: str, prefix: str):
    su, p, o = _dump_parts(s)
    return (_dump_term(su, prefix), relabel(p[1:-1], prefix),
            _dump_term(o, prefix))


def _miner_atom(s: str):
    su, p, o = s.split("|")

    def term(x):
        return ("v", x) if x.startswith("?") else ("c", _norm_const(x[2:]))

    return (term(su), p, term(o))


class MineConstLocal(Workload):
    """Object-constants mining + confidences on the yago graph (local gate).

    The triple set is the in-repo executed-reference fixture restricted to
    the predicates in KEPT. A rule's measures depend only on the triples of
    the predicates it mentions, so the expected rules are the reference
    dump's rules that mention only kept predicates. The seed renames every
    entity and predicate with a seed-specific prefix (an isomorphic copy)
    and permutes the row order; the dump is checked under the same
    renaming."""

    name = "mine_const_local"
    #: the input's triple count, at every size
    sizes = {"full": 2_404, "tiny": 2_404}
    #: 1,864 of the dump's 116,608 rules. The op's cost follows the rules
    #: it outputs: with every predicate but hasCurrency and imports (46,317
    #: triples, 24,773 rules) it took about 13 s on 4 cores, with these
    #: about 3 s, which is what the benchmark's time budget allows.
    KEPT = ("dealsWith", "exports", "hasOfficialLanguage", "hasCapital",
            "isCitizenOf", "livesIn")
    BASE = "yago-base.tsv.gz"

    def keeps(self, pred: str) -> bool:
        """Whether the input keeps the fixture predicate ``pred``."""
        return pred in self.KEPT

    def _params(self):
        from rdfrules_spark.mining.amie import MiningParams

        return MiningParams(
            min_head_size=100, min_support=1, min_head_coverage=0.01,
            max_rule_length=3, injective=True,
        )

    def _base(self) -> str:
        return os.path.join(self.cache_root, self.BASE)

    def shared_ready(self) -> bool:
        return os.path.exists(self._base())

    def prepare_shared(self) -> None:
        """The fixture's triples in canonical string form, parsed with
        refcache.read_dataset_cache."""
        from rdfrules_spark.sources.refcache import read_dataset_cache

        raw = self._base() + ".cache"
        os.makedirs(os.path.dirname(raw), exist_ok=True)
        with gzip.open(self.fixture("yago_quads.cache.gz"), "rb") as a, \
                open(raw, "wb") as b:
            shutil.copyfileobj(a, b)
        rows = read_dataset_cache(self.spark, raw).select("s", "p", "o") \
            .collect()
        os.remove(raw)
        with gzip.open(self._base() + ".part", "wt", encoding="utf-8") as f:
            for r in rows:
                f.write("\t".join(r) + "\n")
        os.replace(self._base() + ".part", self._base())

    def generate(self) -> None:
        with gzip.open(self._base(), "rt", encoding="utf-8") as f:
            rows = [r for r in (ln.rstrip("\n").split("\t") for ln in f)
                    if self.keeps(r[1])]
        if len(rows) != self.n:
            raise ValueError(f"{self.name}: {len(rows)} triples kept, "
                             f"sizes says {self.n}")
        _fresh_dir(self.cache)
        prefix = relabel_prefix(self.seed)
        order = np.random.default_rng(self.seed).permutation(len(rows))
        quads = [[relabel(x, prefix) for x in rows[k]] for k in order]
        write_cache(quads, os.path.join(self.cache, "main.cache"))
        _mark_complete(self.cache)

    def load(self) -> None:
        from rdfrules_spark.sources.refcache import read_dataset_cache

        self.triples = read_dataset_cache(
            self.spark, os.path.join(self.cache, "main.cache")
        ).select("s", "p", "o").distinct().cache()
        self.n_triples = self.triples.count()
        self.expected = None

    def op(self, i: int, tr):
        from rdfrules_spark.mining.constants import mine_constants
        from rdfrules_spark.mining.measures_constants import (
            confidences_constants,
        )

        with tr.span("mining.constants", i) as s:
            rules = mine_constants(self.triples, self._params(),
                                   constants="object",
                                   quasi_binding=True)
            local = hasattr(rules, "_rdfrules_local_pdf")
            if not local:
                rules = rules.localCheckpoint()
            if tr.enabled:
                s.count("rows", rules.count())
                s.count("local_gate", int(local))
        with tr.span("mining.measures_constants", i) as s:
            conf = confidences_constants(rules, self.triples, injective=True)
            pdf = (
                conf.where(F.col("support") / F.col("body_size") >= 0.1)
                .where((F.col("pca_body_size") > 0)
                       & (F.col("support") / F.col("pca_body_size") >= 0.1))
                .select("head", "atoms", "support", "head_size", "body_size",
                        "pca_body_size")
                .toPandas()
            )
            s.count("rows", len(pdf))
        return pdf

    def _expected(self) -> dict:
        """Executed-reference dump rules (116,608 in all) that mention only
        kept predicates, under this seed's renaming."""
        prefix = relabel_prefix(self.seed)
        out = {}
        with gzip.open(self.fixture("task13_smallyago.tsv.gz"), "rt",
                       encoding="utf-8") as f:
            for line in f:
                head, _, body, sup, hs, cwa, pca = line.rstrip("\n").split("\t")
                atoms = [head] + body.split(" ^ ")
                if all(self.keeps(_dump_pred(a)) for a in atoms):
                    h, *b = (_dump_atom(a, prefix) for a in atoms)
                    out[canon_rule(h, b)] = (int(sup), int(hs), float(cwa),
                                             float(pca))
        return out

    def _got(self, pdf) -> dict:
        out = {}
        for head, atoms, sup, hs, bs, pbs in zip(
            pdf["head"], pdf["atoms"], pdf["support"], pdf["head_size"],
            pdf["body_size"], pdf["pca_body_size"],
        ):
            key = canon_rule(_miner_atom(head), [_miner_atom(a) for a in atoms])
            out[key] = (int(sup), int(hs), sup / bs, sup / pbs)
        return out

    def check(self, pdf) -> list[str]:
        if self.expected is None:
            self.expected = self._expected()
        return _compare_rules("mine_const_local vs reference dump",
                              self._got(pdf), self.expected)

    def work_triples(self, out) -> int:
        return self.n_triples

    def describe(self) -> dict:
        return {"size": self.size, "triples": self.n_triples,
                "relabel_prefix": relabel_prefix(self.seed)}


# ------------------------------------------------------ mine_predict_const


class MinePredictConst(Workload):
    """Both mining paths in one op: ``MinePredict`` (distributed AMIE, CWA
    confidence and prediction on synth_kg), then ``MineConstLocal``
    (object-constants mining and confidences on yago, below the local
    gate). Neither has a warm-up op: one op is one mining session in a
    fresh process, as a user running the two tasks sees it."""

    name = "mine_predict_const"

    def __init__(self, spark, root: str, work: str, seed: int, size: str):
        self.parts = (MinePredict(spark, root, work, seed, size),
                      MineConstLocal(spark, root, work, seed, size))
        self._spark = spark

    @property
    def spark(self):
        return self._spark

    @spark.setter
    def spark(self, spark):
        self._spark = spark
        for p in self.parts:
            p.spark = spark

    def shared_ready(self) -> bool:
        return all(p.shared_ready() for p in self.parts)

    def prepare_shared(self) -> None:
        for p in self.parts:
            if not p.shared_ready():
                p.prepare_shared()

    def ready(self) -> bool:
        return all(p.ready() for p in self.parts)

    def generate(self) -> None:
        for p in self.parts:
            if not p.ready():
                p.generate()

    def load(self) -> None:
        for p in self.parts:
            p.load()

    def crosscheck(self) -> list[str]:
        return [m for p in self.parts for m in p.crosscheck()]

    def op(self, i: int, tr):
        return tuple(p.op(i, tr) for p in self.parts)

    def check(self, out) -> list[str]:
        return [m for p, o in zip(self.parts, out) for m in p.check(o)]

    def work_triples(self, out) -> int:
        return sum(p.work_triples(o) for p, o in zip(self.parts, out))

    def describe(self) -> dict:
        return {p.name: p.describe() for p in self.parts}


WORKLOADS = {w.name: w for w in (KgBuild, MinePredictConst)}
