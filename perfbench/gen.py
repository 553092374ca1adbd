"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical files. Generated inputs are cached per seed under
the cache root, and the time spent here is never part of a measurement.

  review_job    analysis jobs: HTML review pages plus that job's events
  corpus_dedup  a document corpus cut into fixed ingest micro-batches
  vector_search clustered vectors, append batches and query ids
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever the generator's output changes, so stale caches are
# never reused.
GEN_VERSION = 1

# Vocabulary of the synthetic corpus. The engine's lexicon scorer reads
# fast/small/value as positive, slow/big/dup as negative and
# batch/stream/window as the neutral keywords, so all three sentiment
# classes appear.
VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer the dup").split()

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
EVENT_WEIGHTS = [0.45, 0.25, 0.08, 0.07, 0.15]

# Workload shapes. Sizes a run may consume are fixed here so that the
# run record can state them.
REVIEW = dict(jobs=6, reviews=3500, per_page=50, dup_share=0.10,
              min_tokens=6, max_tokens=70, events=20000, days=60)
DEDUP = dict(batches=20, batch_docs=1000, near_dup_share=0.20,
             cross_batch_share=0.5, min_tokens=20, max_tokens=60,
             vocab_suffixes=40)
VECTOR = dict(vectors=5000, dim=64, clusters=32, skew=1.1,
              append_batches=20, append_size=100, queries=2000)

BOILERPLATE = [
    "Welcome to the review board, where every guest can share a visit.",
    "Cookies help us deliver our services; by using them you agree.",
    "Copyright the review board. All rights reserved worldwide, always.",
]


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _tokens(rng, lo, hi, vocab):
    n = int(rng.integers(lo, hi + 1))
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


# --------------------------------------------------------------- review_job

def _events_table(rng, n, days, first_id):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, days * 86400 * 10**6, n))
    types = rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 5000, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[t] for t in types]),
        "value": pa.array(np.round(rng.random(n) * 200, 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def _review_job(seed, job, out):
    """One analysis job: `pages/*.html` and `events.parquet`, plus the
    documents table the job's ingest must produce (`expected_documents`),
    which the output checks use."""
    p = REVIEW
    rng = _rng(seed, 1000 + job)
    reviews = [" ".join(_tokens(rng, p["min_tokens"], p["max_tokens"], VOCAB))
               for _ in range(p["reviews"])]
    # A review never repeats by accident and always survives the
    # paragraph filter (more than 20 characters).
    reviews = [f"{r} visit {job}-{i}" for i, r in enumerate(reviews)]
    pages_dir = os.path.join(out, "pages")
    os.makedirs(pages_dir)
    seen, docs = set(), []
    n_pages = (p["reviews"] + p["per_page"] - 1) // p["per_page"]
    blocks_total = 0
    for pg in range(n_pages):
        title = f"Reviews of venue {job} page {pg}"
        blocks = list(reviews[pg * p["per_page"]:(pg + 1) * p["per_page"]])
        # duplicate blocks: reviews quoted again from earlier in the job
        n_dup = int(round(len(blocks) * p["dup_share"]))
        hi = (pg + 1) * p["per_page"]
        for _ in range(n_dup):
            at = int(rng.integers(0, len(blocks) + 1))
            blocks.insert(at, reviews[int(rng.integers(0, min(hi, len(reviews))))])
        paras = [BOILERPLATE[0]] + blocks + BOILERPLATE[1:]
        html = ["<html><head><title>%s</title>" % title,
                "<script>var t = '<p>not a block</p>';</script></head><body>",
                "<nav><p>Home</p></nav>"]
        html += ['<div class="review"><p>%s</p></div>' % b for b in paras]
        html.append("<footer><p>Share</p></footer></body></html>")
        with open(os.path.join(pages_dir, "page_%04d.html" % pg), "w") as f:
            f.write("\n".join(html))
        for b in paras:
            blocks_total += 1
            if b not in seen:
                seen.add(b)
                docs.append((b, title))
    _write_parquet(pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": [d[0] for d in docs],
        "lang": ["en"] * len(docs),
        "source": [d[1] for d in docs],
        "n_chars": pa.array([len(d[0]) for d in docs], pa.int64()),
    }), os.path.join(out, "expected_documents.parquet"))
    _write_parquet(_events_table(rng, p["events"], p["days"], job * 10**7),
                   os.path.join(out, "events.parquet"))
    return {"pages": n_pages, "blocks": blocks_total, "documents": len(docs)}


def _gen_review_job(seed, out):
    jobs = []
    for j in range(REVIEW["jobs"]):
        jobs.append(_review_job(seed, j, os.path.join(out, "job_%03d" % j)))
    return {"jobs": jobs, "reviews_per_job": REVIEW["reviews"],
            "duplicate_block_share": REVIEW["dup_share"],
            "review_tokens": [REVIEW["min_tokens"], REVIEW["max_tokens"]]}


# ------------------------------------------------------------ corpus_dedup

def _mangle(rng, toks, vocab):
    """A near-duplicate: about one token in twenty replaced."""
    out = list(toks)
    for i in range(len(out)):
        if rng.random() < 0.05:
            out[i] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def _gen_corpus_dedup(seed, out):
    """Near-duplicates copy an original document, never another copy: the
    near-dup graph is a set of stars, so the dedup's component search
    takes the same number of rounds whatever the seed."""
    p = DEDUP
    rng = _rng(seed, 2)
    vocab = [f"{w}_{k}" for w in VOCAB for k in range(p["vocab_suffixes"])]
    toks_by_id, originals, planted_within, planted_cross = [], [], 0, 0
    sizes = []
    for b in range(p["batches"]):
        first = b * p["batch_docs"]
        in_batch = len(originals)
        rows = []
        for i in range(p["batch_docs"]):
            doc_id = first + i
            if rng.random() < p["near_dup_share"] and originals:
                cross = in_batch > 0 and (len(originals) == in_batch or
                                          rng.random() < p["cross_batch_share"])
                lo, hi = (0, in_batch) if cross else (in_batch, len(originals))
                toks = _mangle(rng, toks_by_id[originals[int(rng.integers(lo, hi))]], vocab)
                planted_cross += cross
                planted_within += not cross
            else:
                toks = _tokens(rng, p["min_tokens"], p["max_tokens"], vocab)
                originals.append(doc_id)
            toks_by_id.append(toks)
            rows.append(" ".join(toks))
        path = os.path.join(out, "batches", "b%03d" % b, "documents.parquet")
        _write_parquet(pa.table({
            "doc_id": pa.array(range(first, first + len(rows)), pa.int64()),
            "text": rows,
            "lang": ["en"] * len(rows),
            "source": ["src%d" % (i % 7) for i in range(len(rows))],
            "n_chars": pa.array([len(t) for t in rows], pa.int64()),
        }), path)
        sizes.append(os.path.getsize(path))
    return {"batches": p["batches"], "batch_docs": p["batch_docs"],
            "documents": p["batches"] * p["batch_docs"],
            "planted_within_batch": planted_within,
            "planted_cross_batch": planted_cross,
            "near_dup_share": p["near_dup_share"], "batch_bytes": sizes}


# ----------------------------------------------------------- vector_search

def _vectors(rng, n, centres, weights):
    dim = centres.shape[1]
    which = rng.choice(len(centres), n, p=weights)
    v = centres[which] + 0.35 * rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(vecs, first_id, labels):
    dim = vecs.shape[1]
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(vecs) * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + len(vecs)), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def _gen_vector_search(seed, out):
    p = VECTOR
    rng = _rng(seed, 3)
    centres = rng.standard_normal((p["clusters"], p["dim"]))
    # Zipf-skewed cluster sizes: a few cells hold most of the corpus
    w = 1.0 / np.arange(1, p["clusters"] + 1) ** p["skew"]
    w = w / w.sum()
    base = _vectors(rng, p["vectors"], centres, w)
    _write_parquet(_emb_table(base, 0, rng.integers(0, 10, p["vectors"])),
                   os.path.join(out, "base", "embeddings.parquet"))
    nxt = p["vectors"]
    for b in range(p["append_batches"]):
        vecs = _vectors(rng, p["append_size"], centres, w)
        _write_parquet(_emb_table(vecs, nxt, rng.integers(0, 10, len(vecs))),
                       os.path.join(out, "appends", "a%03d" % b,
                                    "embeddings.parquet"))
        nxt += len(vecs)
    # distinct query ids, never 20: id 20 is the query the catalog's index
    # oracles are pinned to, which the harness sends first
    ids = rng.permutation(p["vectors"])
    ids = ids[ids != 20][:p["queries"]]
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump([int(i) for i in ids], f)
    return {"vectors": p["vectors"], "dim": p["dim"],
            "clusters": p["clusters"], "cluster_skew": p["skew"],
            "append_batches": p["append_batches"],
            "append_size": p["append_size"], "queries": len(ids)}


GENERATORS = {
    "review_job": _gen_review_job,
    "corpus_dedup": _gen_corpus_dedup,
    "vector_search": _gen_vector_search,
}


def generate(workload, seed, cache_root, keep=4):
    """Returns the input directory for (workload, seed), generating it on
    a cache miss. At most `keep` seeds stay cached per workload."""
    base = os.path.join(cache_root, f"v{GEN_VERSION}", workload)
    out = os.path.join(base, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "inputs.json")):
        os.utime(out)
        return out
    os.makedirs(base, exist_ok=True)
    old = sorted((os.path.getmtime(os.path.join(base, d)), d)
                 for d in os.listdir(base))
    for _, d in old[:max(0, len(old) - keep + 1)]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = GENERATORS[workload](seed, tmp)
    info.update(workload=workload, seed=seed, generator_version=GEN_VERSION)
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return out
