"""Output-correctness gate: the engine's answers against independent ones.

* sparql-interactive: the first answer of every distinct instance that
  ran against DuckDB over the same parquet (the harness checks that each
  later run of the instance reproduces that answer); the side store's
  reads as for graph-update.
* corpus-dedup: exact-dedup groups against DuckDB; n-gram pairs against
  the planted pairs (all found) and exact Jaccard (every pair verifies);
  MinHash recall and precision; SimHash finds every exact duplicate; kNN
  finds the planted source of each query.
* graph-update: every read against the generator's model of the store,
  so each read must see the write before it.

`self_test` feeds deliberately corrupted answers through the same
comparisons and fails unless each one is caught.
"""
import json
import math
import os
import shutil

import duckdb

import gen
from templates import sql_for

MINHASH_MIN_RECALL = 0.9
KNN_MIN_RECALL = 0.95


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    return float(v)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row):
    return [(v is None, "" if v is None else
             (f"{v:.6e}" if isinstance(v, float) else str(v))) for v in row]


def rows_match(got, want, ordered):
    """Multiset (or sequence, when `ordered`) equality with float tolerance."""
    got = [[_norm(v) for v in r] for r in got]
    want = [[_norm(v) for v in r] for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def _duck(inputs):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("customer", "orders", "nation", "region"):
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_answers(inputs, script, ids=None):
    con = _duck(inputs)
    return {inst["id"]: [list(r) for r in con.execute(sql_for(inst)).fetchall()]
            for inst in script["instances"] if ids is None or inst["id"] in ids}


def check_sparql(inputs, out, script, answers=None, oracle=None):
    """Checks the answered instances; with none answered, every instance
    counts as wrong."""
    insts = {i["id"]: i for i in script["instances"]}
    if answers is None:
        with open(os.path.join(out, "answers.json")) as f:
            answers = {a["id"]: a["rows"] for a in json.load(f)}
    if oracle is None:
        oracle = oracle_answers(inputs, script, set(answers))
    bad = sorted(i for i in answers
                 if not rows_match(answers[i], oracle[i], insts[i]["ordered"]))
    if not answers:
        bad = sorted(insts)
    notes = [f"sparql-interactive: {len(answers) - len(bad)}/{len(answers)} instances "
             f"that ran (of {len(insts)}) match DuckDB"
             + (f"; mismatched: {bad}" if bad else "")]
    return set(bad), notes


def jaccard_ok(texts, pairs, threshold=0.8):
    return all(gen.jaccard(texts[a], texts[b]) >= threshold - 1e-12 for a, b in pairs)


def corpus_gate(texts, planted, exact_clusters, outputs, exact_diff, n_queries,
                knn_truth):
    """Pure comparison part of the corpus-dedup gate (shared with the
    self-test). `outputs` maps a stage to its rows."""
    planted = {tuple(p) for p in planted}
    pair_set = lambda rows: {(min(a, b), max(a, b)) for a, b, *_ in rows}
    ngram, minhash = pair_set(outputs["ngram"]), pair_set(outputs["minhash"])
    simhash = pair_set(outputs["simhash"])
    exact_pairs = {(a, b) for c in exact_clusters for a in c for b in c if a < b}
    rec = lambda found: len(planted & found) / len(planted) if planted else 1.0
    knn = {}
    for lid, rid, *_ in outputs["knn"]:
        knn.setdefault(lid, set()).add(rid)
    knn_rec = sum(1 for q, src in enumerate(knn_truth) if src in knn.get(q, ())) / n_queries
    quality = outputs["quality"]
    gates = {
        "exact groups equal DuckDB": exact_diff == 0,
        "n-gram finds every planted pair": rec(ngram) == 1.0,
        "n-gram pairs verify": jaccard_ok(texts, ngram),
        f"MinHash recall >= {MINHASH_MIN_RECALL}": rec(minhash) >= MINHASH_MIN_RECALL,
        "MinHash pairs verify": jaccard_ok(texts, minhash),
        "SimHash finds every exact duplicate": exact_pairs <= simhash,
        "quality scores one per doc in [0,1]": len(quality) == len(texts) and
            all(0.0 <= q <= 1.0 for _, q in quality),
        f"kNN recall@5 >= {KNN_MIN_RECALL}": knn_rec >= KNN_MIN_RECALL,
    }
    facts = {"planted_pairs": len(planted), "ngram_recall": rec(ngram),
             "minhash_recall": rec(minhash), "knn_recall": knn_rec,
             "planted_recall": min(rec(ngram), rec(minhash))}
    return gates, facts


def check_corpus(inputs, out, script):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    docs = os.path.join(inputs, "documents", "*.parquet")
    ans = lambda s: os.path.join(out, "answers", s, "*.parquet")
    texts = dict(con.execute(f"SELECT doc_id, text FROM read_parquet('{docs}')").fetchall())
    oracle = (f"SELECT md5(text) AS digest, count(*) AS n, min(doc_id) AS keep_id "
              f"FROM read_parquet('{docs}') GROUP BY 1")
    got = f"SELECT digest, n, keep_id FROM read_parquet('{ans('exact')}')"
    exact_diff = con.execute(
        f"SELECT (SELECT count(*) FROM ({oracle} EXCEPT ALL {got})) + "
        f"(SELECT count(*) FROM ({got} EXCEPT ALL {oracle}))").fetchone()[0]
    outputs = {
        s: con.execute(f"SELECT {cols} FROM read_parquet('{ans(s)}')").fetchall()
        for s, cols in (("ngram", "id1, id2"), ("minhash", "id1, id2"),
                        ("simhash", "id1, id2"), ("quality", "doc_id, quality"),
                        ("knn", "lid, rid"))}
    gates, facts = corpus_gate(texts, script["planted_pairs"], script["exact_clusters"],
                               outputs, exact_diff, len(script["knn_truth"]),
                               script["knn_truth"])
    return gates, facts


def check_graph_update(out, script, answers=None):
    if answers is None:
        with open(os.path.join(out, "answers.json")) as f:
            answers = json.load(f)
    ops = script["ops"]
    bad = {a["op"] for a in answers if not rows_match(a["rows"], ops[a["op"]]["expect"], False)}
    return bad, [f"graph-update: {len(answers) - len(bad)}/{len(answers)} reads "
                 f"match the model" + (f"; mismatched ops: {sorted(bad)[:10]}" if bad else "")]


def store_facts(script, facts):
    ops = script["ops"][:facts["ops_done"]]
    user = script["base_bytes"] + sum(o.get("new_bytes", 0) for o in ops)
    return {"store_bytes_per_user_byte": facts["store_bytes"] / user,
            "compact_when_files_exceed": script["compact_when_files_exceed"],
            "engine_checkpoints": facts["checkpoints"]}


def check(workload, inputs, out, script, res):
    """Returns {"correct", "bad_ops" (op indices), "facts", "notes"}."""
    ops = res["ops"]
    if workload == "sparql-interactive":
        bad_inst, notes = check_sparql(inputs, out, script)
        with open(os.path.join(inputs, "side", "script.json")) as f:
            side_script = json.load(f)
        bad_side, side_notes = check_graph_update(os.path.join(out, "side"), side_script)
        bad_refs = bad_inst | {f"side-{i}" for i in bad_side}
        bad_ops = {o["i"] for o in ops if o.get("ref") in bad_refs}
        return {"correct": not bad_refs, "bad_ops": bad_ops,
                "facts": store_facts(side_script, res["facts"]["side"]),
                "notes": notes + ["side store: " + n for n in side_notes]}
    if workload == "corpus-dedup":
        gates, facts = check_corpus(inputs, out, script)
        notes = [f"corpus-dedup: {k}: {'ok' if v else 'FAILED'}" for k, v in gates.items()]
        ok = all(gates.values())
        return {"correct": ok, "bad_ops": set() if ok else {o["i"] for o in ops},
                "facts": facts, "notes": notes}
    bad, notes = check_graph_update(out, script)
    bad_ops = {o["i"] for o in ops if o.get("ref") in bad}
    return {"correct": not bad, "bad_ops": bad_ops, "facts": store_facts(script, res["facts"]),
            "notes": notes}


# -------------------------------------------------------------- self-test

def self_test(tmp):
    """Generator determinism, then each gate on a true and a corrupted
    answer; the corrupted one must be caught."""
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        ok = gen.self_test(os.path.join(tmp, "gen"))
        results = []

        # sparql-interactive: DuckDB's own answers pass; one changed value fails
        si = os.path.join(tmp, "si")
        gen.generate("sparql-interactive", 5, si)
        with open(os.path.join(si, "script.json")) as f:
            script = json.load(f)
        oracle = oracle_answers(si, script)
        good = {i: [list(r) for r in rows] for i, rows in oracle.items()}
        bad_good, _ = check_sparql(si, None, script, good, oracle)
        victim = next(i for i, rows in good.items() if rows and len(rows[0]) > 1)
        corrupt = {i: json.loads(json.dumps(rows)) for i, rows in good.items()}
        corrupt[victim][0][-1] = (corrupt[victim][0][-1] or 0) + 1 \
            if isinstance(corrupt[victim][0][-1], (int, float)) else "corrupted"
        bad_corrupt, _ = check_sparql(si, None, script, corrupt, oracle)
        results.append(("sparql answer", not bad_good, bad_corrupt == {victim}))

        # corpus-dedup: the planted truth passes; a dropped pair fails
        words = "a b c d e f g h i j k l m n o p q r s t u v w y z".split()
        doc = " ".join(words)
        texts = {0: doc, 1: doc, 2: doc.replace(" z", " x"), 3: "p q r s t u v w"}
        planted, exact = [(0, 2), (1, 2)], [[0, 1]]
        truth = {"ngram": [(0, 1), (0, 2), (1, 2)], "minhash": [(0, 1), (0, 2), (1, 2)],
                 "simhash": [(0, 1)], "quality": [(i, 0.5) for i in range(4)],
                 "knn": [(0, 7)]}
        g_ok, _ = corpus_gate(texts, planted, exact, truth, 0, 1, [7])
        dropped = dict(truth, ngram=[(0, 1), (0, 2)])
        g_bad, _ = corpus_gate(texts, planted, exact, dropped, 0, 1, [7])
        g_diff, _ = corpus_gate(texts, planted, exact, truth, 1, 1, [7])
        results.append(("corpus gates", all(g_ok.values()),
                        not all(g_bad.values()) and not all(g_diff.values())))

        # graph-update: the model's rows pass; an extra row fails
        script = {"ops": [{"op": "read", "expect": [["p", "o"]]}]}
        b1, _ = check_graph_update(None, script, [{"op": 0, "rows": [["p", "o"]]}])
        b2, _ = check_graph_update(None, script,
                                   [{"op": 0, "rows": [["p", "o"], ["p", "o2"]]}])
        results.append(("read-your-writes", not b1, b2 == {0}))

        for name, passes, caught in results:
            print(f"gate self-test {name}: true answer {'passes' if passes else 'FAILS'}, "
                  f"corrupted answer {'caught' if caught else 'MISSED'}")
            ok &= passes and caught
        return ok
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
