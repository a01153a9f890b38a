"""Seeded input generators for the three benchmark workloads.

Every input the engine sees is written here from `--seed`: parquet tables,
N-Triples batches and a `script.json` that names the operations to run.
The same seed gives byte-identical files, and `digest()` hashes them.

    python3 perfbench/gen.py --workload corpus-dedup --seed 7 --out DIR
    python3 perfbench/gen.py --self-test
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from templates import TEMPLATES, ASK_TEMPLATE, PREFIX

WORKLOADS = ("sparql-interactive", "corpus-dedup", "graph-update")

# --- sizes (all far below the heap; see README "Machine assumptions") ----
# sparql-interactive: the sf0.1 row counts of the TPC-H-like tables.
SI_CUSTOMERS, SI_ORDERS = 15_000, 150_000
SI_BINDINGS_PER_TEMPLATE = 4   # distinct constant sets per template
SI_SCHEDULE = 4_000            # reads the closed loop may draw
SI_WRITE_EVERY = 3             # one side-store step after every 3 reads
# corpus-dedup: 4,000 documents in as many files as 4x cores.
CD_DOCS, CD_FILES = 4_000, 16
CD_EXACT_FRAC, CD_NEAR_FRAC = 0.02, 0.03
CD_VECS, CD_DIM, CD_KNN_QUERIES = 4_000, 64, 64
# graph-update: a customer+orders store of a third of sf0.01.
GU_CUSTOMERS, GU_ORDERS = 500, 5_000
GU_BATCH_EVENTS, GU_REPLAY_FRAC = 320, 0.2
GU_COMPACT_WHEN_FILES_EXCEED = 1   # every ingest compacts what it touches
GU_ROUNDS = 150
GU_INGEST_EVERY = 5            # rounds; the other rounds only update
GU_WARM_INGESTS = 1

VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join index page shard plan cache node edge graph "
         "rank score token word text file load save read write count").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["de", "en", "es", "fr", "zh"]

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
BASE = "urn:graft:"


def _write_table(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def _tpch_tables(rng, n_cust, n_orders):
    """region/nation/customer/orders with the sf0.1 schemas and value
    ranges (`Tables` maps them to RDF)."""
    region = {"r_regionkey": pa.array(range(5), pa.int32()),
              "r_name": pa.array(REGIONS)}
    nation = {"n_nationkey": pa.array(range(25), pa.int32()),
              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    ck = np.arange(n_cust, dtype=np.int64)
    customer = {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }
    days = rng.integers(0, 2404, n_orders)
    orders = {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01") + days.astype("timedelta64[D]"))
            .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    }
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders}


# ------------------------------------------------------- sparql-interactive

def gen_sparql_interactive(seed, out):
    """The sf0.1 tables, SI_BINDINGS_PER_TEMPLATE constant sets per
    template, and a small side store (the graph-update inputs, under
    `side/`) whose writes are interleaved with the reads."""
    rng = np.random.default_rng([seed, 1])
    for name, cols in _tpch_tables(rng, SI_CUSTOMERS, SI_ORDERS).items():
        _write_table(os.path.join(out, f"{name}.parquet"), cols)
    def draw(domains):
        """SI_BINDINGS_PER_TEMPLATE distinct constant sets."""
        sets = []
        while len(sets) < SI_BINDINGS_PER_TEMPLATE:
            b = {k: dom[int(rng.integers(0, len(dom)))] for k, dom in domains.items()}
            if b not in sets:
                sets.append(b)
        return sets

    instances = []
    for t in TEMPLATES:
        for b in draw(t["domains"]):
            instances.append({"id": len(instances), "template": t["name"],
                              "kind": "select", "sparql": PREFIX + t["sparql"],
                              "bindings": b, "ordered": t["ordered"]})
    for b in draw(ASK_TEMPLATE["domains"]):
        text = ASK_TEMPLATE["sparql"]
        for k, v in b.items():  # ASK takes no bindings: constants inline
            text = text.replace("{" + k + "}", str(v))
        instances.append({"id": len(instances), "template": "ask",
                          "kind": "ask", "sparql": PREFIX + text,
                          "bindings": {}, "ordered": False, "params": b})
    # interleaved schedule: every round visits each template once, in a
    # seeded order, with one of its instances; -1 is the next step of the
    # side store's script (see gen_graph_update)
    by_t = {}
    for inst in instances:
        by_t.setdefault(inst["template"], []).append(inst["id"])
    names = sorted(by_t)
    schedule = []
    reads = 0
    while reads < SI_SCHEDULE:
        for ti in rng.permutation(len(names)):
            ids = by_t[names[ti]]
            schedule.append(ids[int(rng.integers(0, len(ids)))])
            reads += 1
            if reads % SI_WRITE_EVERY == 0:
                schedule.append(-1)
    side = os.path.join(out, "side")
    os.makedirs(side)
    side_script = gen_graph_update(seed, side)
    with open(os.path.join(side, "script.json"), "w") as f:
        json.dump(side_script, f, sort_keys=True)
    return {"instances": instances, "schedule": schedule}


# ------------------------------------------------------------- corpus-dedup

def _shingles(tokens, k=3):
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def jaccard(a, b):
    sa, sb = _shingles(a.split()), _shingles(b.split())
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def gen_corpus_dedup(seed, out):
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = []
    exact, near = [], []
    while len(texts) < CD_DOCS:
        base = " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(40, 91)))])
        r = rng.random()
        if r < CD_EXACT_FRAC:      # exact cluster of 2-3 copies
            ids = list(range(len(texts), len(texts) + int(rng.integers(2, 4))))
            texts.extend([base] * len(ids))
            exact.append(ids)
        elif r < CD_EXACT_FRAC + CD_NEAR_FRAC:  # base + 1-2 edited variants
            ids = [len(texts)]
            texts.append(base)
            for _ in range(int(rng.integers(1, 3))):
                toks = base.split()
                for _ in range(int(rng.integers(1, 3))):
                    toks[int(rng.integers(0, len(toks)))] = str(
                        vocab[rng.integers(0, len(vocab))])
                variant = " ".join(toks)
                if variant != base and jaccard(base, variant) >= 0.85:
                    ids.append(len(texts))
                    texts.append(variant)
            if len(ids) > 1:
                near.append(ids)
        else:
            texts.append(base)
    texts = texts[:CD_DOCS]
    exact = [[i for i in c if i < CD_DOCS] for c in exact]
    exact = [c for c in exact if len(c) > 1]
    near = [[i for i in c if i < CD_DOCS] for c in near]
    near = [c for c in near if len(c) > 1]
    planted = sorted({(min(a, b), max(a, b)) for c in near
                      for a in c for b in c
                      if a < b and jaccard(texts[a], texts[b]) >= 0.8})
    # shuffle doc ids so clusters do not sit in one file
    perm = rng.permutation(CD_DOCS)
    ids = np.empty(CD_DOCS, np.int64)
    ids[perm] = np.arange(CD_DOCS)
    remap = lambda i: int(ids[i])
    order = np.argsort(ids)
    texts_by_id = [texts[i] for i in order]
    docs = {
        "doc_id": pa.array(np.arange(CD_DOCS, dtype=np.int64)),
        "text": pa.array(texts_by_id),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, CD_DOCS)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, CD_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts_by_id], np.int64)),
    }
    os.makedirs(os.path.join(out, "documents"))
    per = -(-CD_DOCS // CD_FILES)
    table = pa.table(docs)
    for f in range(CD_FILES):
        pq.write_table(table.slice(f * per, per),
                       os.path.join(out, "documents", f"part-{f:03d}.parquet"),
                       compression="snappy")
    # embeddings: isotropic unit vectors + near copies used as kNN queries
    vecs = rng.standard_normal((CD_VECS, CD_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    src = rng.choice(CD_VECS, CD_KNN_QUERIES, replace=False)
    qv = vecs[src] + 0.01 * rng.standard_normal((CD_KNN_QUERIES, CD_DIM)).astype(np.float32)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    emb_type = pa.list_(pa.float32())
    _write_table(os.path.join(out, "embeddings.parquet"), {
        "vec_id": pa.array(np.arange(CD_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), emb_type),
        "label": pa.array(rng.integers(0, 10, CD_VECS).astype(np.int32))})
    _write_table(os.path.join(out, "queries.parquet"), {
        "qid": pa.array(np.arange(CD_KNN_QUERIES, dtype=np.int64)),
        "embedding": pa.array(list(qv.astype(np.float32)), emb_type)})
    return {"docs": CD_DOCS,
            "exact_clusters": [sorted(map(remap, c)) for c in exact],
            "planted_pairs": sorted(tuple(sorted((remap(a), remap(b))))
                                    for a, b in planted),
            "knn_truth": [int(s) for s in src]}


# ------------------------------------------------------------- graph-update

def _iri(x):
    return f"<{x}>"


def _lit(v, dt=None):
    return f'"{v}"' + (f"^^<{XSD}{dt}>" if dt else "")


def _customer_triples(k, name, nation, bal, seg):
    s = _iri(f"{BASE}customer/{k}")
    p = lambda c: _iri(f"{BASE}p/{c}")
    return [(s, _iri(RDF_TYPE), _iri(f"{BASE}class/customer")),
            (s, p("c_custkey"), _lit(k, "long")),
            (s, p("c_name"), _lit(name)),
            (s, p("c_nationkey"), _lit(nation, "int")),
            (s, p("c_nation_ref"), _iri(f"{BASE}nation/{nation}")),
            (s, p("c_acctbal"), _lit(f"{bal:.2f}", "double")),
            (s, p("c_mktsegment"), _lit(seg))]


def _order_triples(k, cust, status, price, date, prio):
    s = _iri(f"{BASE}orders/{k}")
    p = lambda c: _iri(f"{BASE}p/{c}")
    return [(s, _iri(RDF_TYPE), _iri(f"{BASE}class/orders")),
            (s, p("o_orderkey"), _lit(k, "long")),
            (s, p("o_custkey"), _lit(cust, "long")),
            (s, p("o_cust_ref"), _iri(f"{BASE}customer/{cust}")),
            (s, p("o_orderstatus"), _lit(status)),
            (s, p("o_totalprice"), _lit(f"{price:.2f}", "double")),
            (s, p("o_orderdate"), _lit(f"{date}T00:00:00", "dateTime")),
            (s, p("o_orderpriority"), _lit(prio))]


def nt_line(t):
    return f"{t[0]} {t[1]} {t[2]} ."


def _unwrap(term):
    """N-Triples term -> the STR() of it (IRI text or lexical form)."""
    if term.startswith("<"):
        return term[1:-1]
    return term[1:term.index('"', 1)]


def gen_graph_update(seed, out):
    rng = np.random.default_rng([seed, 3])

    def order(k):
        d = np.datetime64("1995-01-01") + np.timedelta64(int(rng.integers(0, 2404)), "D")
        return _order_triples(k, int(rng.integers(0, GU_CUSTOMERS)),
                              STATUSES[int(rng.integers(0, 3))],
                              float(np.round(rng.uniform(1000, 500000), 2)), str(d),
                              PRIORITIES[int(rng.integers(0, 5))])

    base = []
    for k in range(GU_CUSTOMERS):
        base += _customer_triples(k, f"Customer#{k:09d}", int(rng.integers(0, 25)),
                                  float(rng.uniform(-999.99, 9999.99)),
                                  SEGMENTS[int(rng.integers(0, 5))])
    for k in range(GU_ORDERS):
        base += order(k)
    with open(os.path.join(out, "base.nt"), "w") as f:
        f.write("".join(nt_line(t) + "\n" for t in base))
    # ingest batches carry order events: one new `o_event` fact each about
    # an existing order, so a batch lands in one predicate directory
    n_events = 0

    def events(n):
        nonlocal n_events
        ks = rng.integers(0, GU_ORDERS, n)
        ts = [(_iri(f"{BASE}orders/{int(k)}"), _iri(f"{BASE}p/o_event"),
               _lit(f"e{n_events + i}")) for i, k in enumerate(ks)]
        n_events += n
        return ts

    # the warm-up ingests, which (like every later ingest) compact the
    # directory they touch
    history = []   # event lines already ingested, replayed by later batches
    for w in range(GU_WARM_INGESTS):
        warm = events(GU_BATCH_EVENTS)
        with open(os.path.join(out, f"warm-{w}.nt"), "w") as f:
            f.write("".join(nt_line(t) + "\n" for t in warm))
        base += warm
        history += warm

    store = {}     # subject -> set((p, o)) of the persisted store
    for s, p, o in base:
        store.setdefault(s, set()).add((p, o))
    session = {}   # subject -> set, the engine's in-memory edits since reload
    os.makedirs(os.path.join(out, "batches"))
    ops = []
    next_cust = 10_000_000

    def view(s):
        return session[s] if s in session else store.get(s, set())

    def read(s):
        rows = sorted([_unwrap(p), _unwrap(o)] for p, o in view(s))
        ops.append({"op": "read", "s": s[1:-1], "expect": rows})

    for r in range(GU_ROUNDS):
        # 1. INSERT DATA a new customer, then read it back
        k = next_cust
        next_cust += 1
        ts = _customer_triples(k, f"New#{k}", int(rng.integers(0, 25)),
                               float(rng.uniform(0, 9999)),
                               SEGMENTS[int(rng.integers(0, 5))])
        body = " ".join(nt_line(t) for t in ts)
        ops.append({"op": "update", "sparql": f"INSERT DATA {{ {body} }}",
                    "triples": len(ts)})
        s = ts[0][0]
        session[s] = set(view(s)) | {(p, o) for _, p, o in ts}
        read(s)
        # 2. every GU_INGEST_EVERY rounds, an ingest: fresh events plus
        # replayed lines already in the store
        if r % GU_INGEST_EVERY == 0:
            fresh = events(GU_BATCH_EVENTS)
            n_replay = int(round(len(fresh) * GU_REPLAY_FRAC / (1 - GU_REPLAY_FRAC)))
            replay = [history[int(i)] for i in rng.integers(0, len(history), n_replay)]
            lines = fresh + replay
            lines = [lines[int(i)] for i in rng.permutation(len(lines))]
            name = f"b{r:05d}.nt"
            with open(os.path.join(out, "batches", name), "w") as f:
                f.write("".join(nt_line(t) + "\n" for t in lines))
            new_lines = [t for t in lines if (t[1], t[2]) not in store.get(t[0], ())]
            for s, p, o in lines:
                store.setdefault(s, set()).add((p, o))
            history += fresh
            session.clear()  # the engine is re-pointed at the store
            ops.append({"op": "ingest", "file": name, "triples": len(lines),
                        "new_bytes": sum(len(nt_line(t)) + 1 for t in set(new_lines))})
            read(fresh[0][0])
        # 3. DELETE WHERE the balance of an existing customer, then read
        k = int(rng.integers(0, GU_CUSTOMERS))
        s = _iri(f"{BASE}customer/{k}")
        bal = _iri(f"{BASE}p/c_acctbal")
        gone = {(p, o) for p, o in view(s) if p == bal}
        ops.append({"op": "update",
                    "sparql": f"DELETE WHERE {{ {s} {bal} ?b }}",
                    "triples": len(gone)})
        session[s] = set(view(s)) - gone
        read(s)
    base_bytes = sum(len(nt_line(t)) + 1 for t in set(base))
    return {"ops": ops, "base_bytes": base_bytes, "warm_ingests": GU_WARM_INGESTS,
            "compact_when_files_exceed": GU_COMPACT_WHEN_FILES_EXCEED}


GENERATORS = {"sparql-interactive": gen_sparql_interactive,
              "corpus-dedup": gen_corpus_dedup,
              "graph-update": gen_graph_update}


def digest(root):
    """sha256 over every generated file, path and bytes, in sorted order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into the empty dir `out`
    and return the input digest."""
    os.makedirs(out)
    script = GENERATORS[workload](seed, out)
    script.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "script.json"), "w") as f:
        json.dump(script, f, sort_keys=True)
    return digest(out)


def self_test(tmp):
    """Same seed -> same digest; another seed -> another digest."""
    ok = True
    for w in WORKLOADS:
        a = generate(w, 11, os.path.join(tmp, w + "-a"))
        b = generate(w, 11, os.path.join(tmp, w + "-b"))
        c = generate(w, 12, os.path.join(tmp, w + "-c"))
        good = a == b and a != c
        ok &= good
        print(f"gen self-test {w}: same-seed {'equal' if a == b else 'DIFFERENT'}, "
              f"other-seed {'different' if a != c else 'EQUAL'} -> "
              f"{'ok' if good else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        tmp = os.path.join(a.out or ".bench_build", "gen-selftest")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            sys.exit(0 if self_test(tmp) else 1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if not (a.workload and a.out):
        ap.error("--workload and --out are required")
    print(generate(a.workload, a.seed, a.out))


if __name__ == "__main__":
    main()
