"""Seeded input generators for the benchmark, with the outputs they predict.

ETL inputs follow the shapes of graft.EtlBench.entities/corpus: an entity
universe of targets, diseases and drugs whose labels share a word pool, and
an EPMC-shaped JSON corpus whose sentences carry groundable matches, misses
and GP-DS co-occurrences. Unlike EtlBench the corpus is drawn from a seeded
RNG and written to disk, together with the epmcids CSV that drives the
publication-id repair, so that the benchmark times the production readers.

Because every label is built from an entity id, the generator knows which
match grounds to which entity. `etl_inputs` therefore also returns the
expected row count and an order-independent content hash for each pipeline
output; check.py compares them with what the pipeline wrote.

Ops inputs are the two testdata tables the ops_iterative queries read
(`documents`, `customer`), drawn with the shapes of the sf* testdata.
"""
import csv
import hashlib
import json
import os
import random
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

# graft.etl.SectionRanks.default; sections outside it are kept by the
# literature index (rank 100) and dropped by the embedding/evidence joins
RANKS = {"title": 1, "abstract": 1, "concl": 1, "results": 2, "discuss": 2,
         "methods": 3, "other": 4}
BODY_SECTIONS = ["Abstract", "Abstract", "Results", "Discuss", "Methods", "Figure"]


def digest(rows):
    """Order-independent hash of a multiset of tuples."""
    h = hashlib.sha256()
    for r in sorted(tuple("" if v is None else str(v) for v in row) for row in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def target_id(i): return "ENSG%09d" % i
def disease_id(i): return "EFO_%07d" % i
def drug_id(i): return "CHEMBL%d" % i


def write_entities(root, n):
    lbl = pa.list_(pa.struct([("label", pa.string())]))
    targets = pa.table({
        "id": [target_id(i) for i in range(n)],
        "approvedName": ["gene alpha %d" % i for i in range(n)],
        "approvedSymbol": ["GN%d" % i for i in range(n)],
        "symbolSynonyms": pa.array([[{"label": "GS%d" % i}] for i in range(n)], lbl),
        "nameSynonyms": pa.array([[{"label": "gene synonym %d" % i}] for i in range(n)], lbl),
        "obsoleteSymbols": pa.array([[] for _ in range(n)], lbl),
        "obsoleteNames": pa.array([[] for _ in range(n)], lbl),
        "proteinIds": pa.array([[{"id": "P%05d" % i}] for i in range(n)],
                               pa.list_(pa.struct([("id", pa.string())]))),
    })
    syn = pa.struct([(k, pa.list_(pa.string())) for k in
                     ("hasExactSynonym", "hasNarrowSynonym", "hasBroadSynonym", "hasRelatedSynonym")])
    diseases = pa.table({
        "id": [disease_id(i) for i in range(n)],
        "name": ["disease beta %d" % i for i in range(n)],
        "synonyms": pa.array([{"hasExactSynonym": ["disorder beta %d" % i], "hasNarrowSynonym": None,
                               "hasBroadSynonym": None, "hasRelatedSynonym": ["syndrome beta %d" % i]}
                              for i in range(n)], syn),
    })
    m = n // 10 + 1
    drugs = pa.table({
        "id": [drug_id(i) for i in range(m)],
        "name": ["drug gamma %d" % i for i in range(m)],
        "tradeNames": [["brand gamma %d" % i] for i in range(m)],
        "synonyms": [["compound gamma %d" % i] for i in range(m)],
    })
    for name, t in (("targets", targets), ("diseases", diseases), ("drugs", drugs)):
        os.makedirs(f"{root}/{name}", exist_ok=True)
        pq.write_table(t, f"{root}/{name}/part-0.parquet")
    return m


def etl_inputs(root, seed, docs, entities, files, stream_docs):
    """Write the EPMC corpus (split into `files` JSON-lines files), the
    epmcids CSV and the entity parquet under `root`, and a landing directory
    `stream` holding the first `stream_docs` documents as one file. Return
    the predicted outputs of the corpus and of the landing directory, and
    input statistics."""
    rng = random.Random(seed)
    n_drugs = write_entities(root, entities)
    ids_rows = []
    corpus = []
    kept = []  # (pmid, sentences, index) of documents that survive id repair
    for i in range(docs):
        pmid, pmcid = str(i + 1), "PMC%d" % (i + 1)
        r = rng.random()
        if r < 0.06:    # full-text duplicate: no pmcid, pmid already in the id LUT
            doc_ids, ids_rows_add, keep = (pmid, None), [(pmid, pmcid)], None
        elif r < 0.10:  # pmid missing, recovered through the pmcid lookup
            doc_ids, ids_rows_add, keep = ("", pmcid), [(pmid, pmcid)], pmid
        elif r < 0.12:  # no usable pmid and no lookup row: dropped
            doc_ids, ids_rows_add, keep = ("0", pmcid), [], None
        else:
            doc_ids = (pmid, None if rng.random() < 0.1 else pmcid)
            ids_rows_add, keep = [], pmid
        ids_rows += ids_rows_add
        sentences = []
        for k in range(rng.randint(2, 4)):
            section = "Title" if k == 0 else rng.choice(BODY_SECTIONS)
            g, d = rng.randrange(entities), rng.randrange(entities)
            gl = rng.choice(["GN%d", "GS%d", "gene alpha %d", "P%05d"]) % g
            dl = rng.choice(["disease beta %d", "disorder beta %d", "syndrome beta %d"]) % d
            ms = [("GP", gl, target_id(g)), ("DS", dl, disease_id(d))]
            if rng.random() < 0.3:
                c = rng.randrange(n_drugs)
                ms.append(("CD", rng.choice(["drug gamma %d", "brand gamma %d"]) % c, drug_id(c)))
            miss = "unknown thing %dx%d" % (i, k)
            if rng.random() < 0.5:
                ms.append(("DS", miss, None))
            if rng.random() < 0.1:
                ms.append(("GP", "XQ%d" % rng.randrange(10 ** 6), None))
            score = float(rng.randrange(10))
            coocs = [(gl, dl, target_id(g), disease_id(d), score)]
            if rng.random() < 0.3:
                coocs.append((gl, miss, target_id(g), None, score))
            text = "%s associates with %s in cohort %d" % (gl, dl, i)
            if rng.random() < 0.05:
                text += " lorem ipsum" * 60  # over Evidence's 600-char sentence cap
            sentences.append((section, text, ms, coocs))
        pub = "" if rng.random() < 0.03 else "20%02d-%02d-%02d" % (
            rng.randrange(10, 25), rng.randrange(1, 13), rng.randrange(1, 29))
        corpus.append({
            "pmid": doc_ids[0], "pmcid": doc_ids[1], "pubDate": pub, "organisms": ["human"],
            "sentences": [{
                "section": s, "text": t,
                "matches": [{"label": lb, "type": ty, "startInSentence": 0, "endInSentence": len(lb),
                             "sectionStart": 0, "sectionEnd": len(lb)} for ty, lb, _ in ms],
                "co-occurrence": [{"label1": a, "label2": b, "type": "GP-DS", "start1": 0,
                                   "end1": len(a), "start2": 1, "end2": len(b), "association": "y",
                                   "relation": "assoc", "sentEvidenceScore": sc}
                                  for a, b, _, _, sc in cs]}
                for s, t, ms, cs in sentences]})
        if keep:
            kept.append((keep, sentences, i))
    # lookup rows for publications outside the corpus, plus one without a pmcid
    ids_rows += [(str(10 ** 8 + j), "PMC%d" % (9 * 10 ** 8 + j)) for j in range(200)]
    ids_rows.append((str(10 ** 8 + 999), ""))
    rng.shuffle(ids_rows)

    os.makedirs(f"{root}/epmc", exist_ok=True)
    per = -(-len(corpus) // files)
    for f in range(files):
        with open(f"{root}/epmc/part-{f:05d}.json", "w") as fh:
            for doc in corpus[f * per:(f + 1) * per]:
                fh.write(json.dumps(doc) + "\n")
    os.makedirs(f"{root}/stream", exist_ok=True)
    with open(f"{root}/stream/part-00000.json", "w") as fh:
        for doc in corpus[:stream_docs]:
            fh.write(json.dumps(doc) + "\n")
    os.makedirs(f"{root}/epmcids", exist_ok=True)
    with open(f"{root}/epmcids/ids.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["PMID", "PMCID"])
        w.writerows(ids_rows)

    expect = predict([(p, s) for p, s, _ in kept])
    expect_stream = predict([(p, s) for p, s, i in kept if i < stream_docs])
    labels = {(ty, lb) for _, s, _ in kept for _, _, ms, _ in s for ty, lb, _ in ms}
    stats = {"docs": docs, "kept_docs": len(kept), "distinct_labels": len(labels),
             "input_bytes": dir_bytes(root)}
    return expect, expect_stream, stats


def predict(kept):
    """Expected (rows, hash) of every output EtlMain writes, from the
    generator's ground truth: grounded matches, misses and co-occurrences of
    the documents that survive the id repair."""
    matches, failed, coocs, failed_coocs = [], [], [], []
    ranked = defaultdict(lambda: defaultdict(set))   # pmid -> rank -> keywordIds
    pair_pubs = defaultdict(set)                      # (gp, ds) -> cooccurring pmids
    for pmid, sentences in kept:
        for section, text, ms, cs in sentences:
            sec = section.lower()
            for ty, lb, kw in ms:
                if kw is None:
                    failed.append((pmid, ty, lb))
                    continue
                matches.append((pmid, sec, ty, lb, kw))
                if sec in RANKS:
                    ranked[pmid][RANKS[sec]].add((ty, kw))
            for _, _, k1, k2, _ in cs:
                if k2 is None:
                    failed_coocs.append((pmid,))
                    continue
                coocs.append((pmid, sec, k1, k2))
                if len(text) < 600:
                    pair_pubs[(k1, k2)].add(pmid)
    lit_index = {(int(p), kw) for p, _, _, _, kw in matches}
    training = sum(len(r) + 1 for r in ranked.values())
    vocab = {kw for r in ranked.values() for ks in r.values() for _, kw in ks}
    shared = defaultdict(int)
    for r in ranked.values():
        pub = set().union(*r.values())
        gps = {kw for ty, kw in pub if ty == "GP"}
        for ds in (kw for ty, kw in pub if ty == "DS"):
            for gp in gps:
                shared[(gp, ds)] += 1
    evidence = [(gp, ds, n, len(pair_pubs.get((gp, ds), ())))
                for (gp, ds), n in shared.items()]
    return {
        "matches": {"rows": len(matches), "hash": digest(matches)},
        "failedMatches": {"rows": len(failed), "hash": digest(failed)},
        "cooccurrences": {"rows": len(coocs), "hash": digest(coocs)},
        "failedCooccurrences": {"rows": len(failed_coocs)},
        "literatureIndex": {"rows": len(lit_index), "hash": digest(lit_index)},
        "trainingSet": {"rows": training},
        "vectors": {"rows": len(vocab), "hash": digest((w,) for w in vocab)},
        "evidence": {"rows": len(evidence), "hash": digest(evidence)},
    }


WORDS = ("spark window merge table column vector stream value data small join filter big group "
         "hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def ops_inputs(root, seed, docs, customers):
    """`documents` (with 5% planted near-duplicates, as in the sf* testdata)
    and `customer`, one single-row-group parquet file each."""
    rng = random.Random(seed)
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100))))
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(docs)],
        "source": ["src%d" % rng.randrange(20) for _ in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{root}/documents.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": ["Customer#%09d" % k for k in range(customers)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(customers)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(customers)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(customers)],
    }), f"{root}/customer.parquet")
    return {"docs": docs, "customers": customers, "input_bytes": dir_bytes(root)}


def dir_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
