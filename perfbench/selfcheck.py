"""Checks of the benchmark itself.

    python3 perfbench/selfcheck.py          # everything (about 5 minutes)
    python3 perfbench/selfcheck.py --quick  # no Spark: 0-2 only

0. Declarations: BENCHMARK.json names the workloads and per-layer metrics
   the code defines.
1. Inputs: the same seed gives byte-identical pages, upsert batches and
   query pools; another seed gives different ones. Every page satisfies
   ``extract_text(html) == text``.
2. Checker: ``workloads.matches`` accepts the oracle's own answers and
   ties at the top-k cut in any order, and rejects a wrong count, a missing
   or extra id, a wrong doc, and a score off by more than the tolerance.
3. Planted wrong answer: a ``query_cached`` run in which one engine answer
   in 500 is altered reports ``failed > 0`` and ``correct: false``.
4. Metric names: each workload, run with ``--trace 0`` and ``--trace 1``,
   prints exactly the end-to-end and per-layer metrics BENCHMARK.json
   names, with their units.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from corpus import CorpusSpec, Generator, Vocabulary  # noqa: E402
from oracle import Oracle, TokenTable, doc_len_at_least  # noqa: E402
import workloads as W  # noqa: E402


def inputs_digest(seed: int, vocab: Vocabulary, table: TokenTable) -> str:
    import hashlib
    gen = Generator(seed, CorpusSpec(), vocab)
    h = hashlib.sha256()
    base = gen.pages(2000)
    upsert = gen.pages(200)
    h.update(base.digest().encode())
    h.update(upsert.digest().encode())
    oracle = Oracle(table)
    oracle.add(base)
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    for q in W._cached_pool(oracle, rng):
        h.update(f"{q.op}|{q.text}|{q.flt.sql if q.flt else ''}".encode())
    return h.hexdigest()


def check_inputs() -> None:
    sys.path.insert(0, ROOT)
    from pysearchlite_spark.extract import extract_text
    vocab = Vocabulary()
    table = TokenTable(vocab.surfaces)
    a, b, c = (inputs_digest(s, vocab, table) for s in (7, 7, 8))
    assert a == b, "same seed gave different inputs"
    assert a != c, "different seeds gave the same inputs"
    pages = Generator(7, CorpusSpec(), vocab).pages(2000)
    bad = [i for i in range(len(pages))
           if extract_text(pages.html[i]) != pages.text(vocab, i)]
    assert not bad, f"extract_text(html) != text for pages {bad[:5]}"
    print("ok inputs: seed-determined, extract_text(html) == text")


def check_checker() -> None:
    vocab = Vocabulary()
    table = TokenTable(vocab.surfaces)
    pages = Generator(3, CorpusSpec(), vocab).pages(2000)
    oracle = Oracle(table)
    oracle.add(pages)
    odoc = np.arange(len(oracle.urls))  # engine doc_id == odoc here
    text = "the search"
    q = W.Query("topk", text)
    exp = oracle.topk(text, W.K)
    ranked = sorted(exp.ties.items(), key=lambda kv: (-kv[1], kv[0]))
    got = [(d, s) for d, s in ranked[:W.K]]
    assert W.matches(q, got, exp, odoc)
    assert not W.matches(q, got[:-1], exp, odoc), "missing hit accepted"
    wrong = [(d + 1 if i == 0 else d, s) for i, (d, s) in enumerate(got)]
    assert not W.matches(q, wrong, exp, odoc), "wrong doc accepted"
    off = [(d, s * (1 + 1e-5) if i == 3 else s)
           for i, (d, s) in enumerate(got)]
    assert not W.matches(q, off, exp, odoc), "wrong score accepted"
    # a tie at the cut may come back in either order
    tie = [(d, exp.top[-1]) for d, s in ranked
           if abs(s - exp.top[-1]) <= 1e-12 * s]
    if len(tie) > 1:
        swapped = got[:-1] + [tie[-1]]
        assert W.matches(q, swapped, exp, odoc), "tie at the cut rejected"
    ids = oracle.and_ids(text)
    assert W.matches(W.Query("and_ids", text), ids, W.Expected(ids=ids),
                     odoc)
    assert not W.matches(W.Query("and_ids", text), ids[1:],
                         W.Expected(ids=ids), odoc), "missing id accepted"
    assert not W.matches(W.Query("count", text), ids.size + 1,
                         W.Expected(ids=ids), odoc), "wrong count accepted"
    f = doc_len_at_least(120)
    fexp = oracle.topk(text, W.K, flt=f)
    assert all(oracle.dl[d] >= 120 for d in fexp.ties)
    print("ok checker: accepts oracle answers, rejects planted errors")


def run_planted() -> None:
    """One query_cached run with every 500th engine answer altered."""
    import run
    real = W.call_engine
    seen = [0]

    def planted(idx, q):
        got = real(idx, q)
        seen[0] += 1
        if seen[0] % 500:
            return got
        if q.op == "count":
            return got + 1
        if q.op in ("and_ids", "or_ids"):
            return np.append(got, got[-1] + 1) if len(got) else \
                np.array([0], dtype=np.int64)
        return got[:-1] if got else [(0, 1.0)]

    W.call_engine = planted
    out = io.StringIO()
    cwd = os.getcwd()
    try:
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", "query_cached", "--seed", "5",
                           "--seconds", "2", "--trace", "0"])
    finally:
        W.call_engine = real
        os.chdir(cwd)
    assert rc == 0, f"planted run exited {rc}"
    res = json.loads(out.getvalue().strip().splitlines()[-1])
    assert res["failed"] > 0 and res["correct"] is False, res
    print(f"ok planted: {res['failed']} of {res['attempted']} answers "
          "flagged")


def check_declared() -> None:
    """BENCHMARK.json's workloads and per-layer metrics are the ones the
    code knows."""
    import layers
    import run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
    assert set(run.declared_metrics()[1]) == set(layers.MOVES), \
        set(run.declared_metrics()[1]) ^ set(layers.MOVES)
    print("ok declared: workloads and per-layer metrics match "
          "BENCHMARK.json")


def check_names() -> None:
    import run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = run.declared_metrics()
    for w in bench["workloads"]:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w["name"], "--seed", "9", "--seconds", "2",
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, p.stderr[-3000:]
            res = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], (w["name"], trace, got)
            assert res["failed"] == 0, (w["name"], trace, res["failed"])
            print(f"ok names: {w['name']} --trace {trace} prints all "
                  f"{len(got)} metrics, failed=0 of {res['attempted']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--quick", action="store_true",
                    help="only the checks that need no Spark")
    args = ap.parse_args()
    check_declared()
    check_inputs()
    check_checker()
    if not args.quick:
        run_planted()
        check_names()
    return 0


if __name__ == "__main__":
    sys.exit(main())
