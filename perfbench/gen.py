"""Seeded input generator for the graft benchmark.

Everything the program under test receives is written here, from the seed
alone, into one directory per (workload, seed, size): collection parquet,
GraphQL request streams, ingest batch files and the planted ground truth the
output checks compare against. The harness never generates data itself, so
generation stays out of every timed metric, set-up included.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. They are part of the benchmark definition (see README.md); changing
# one changes what every metric means.
SIZES = {
    "serve_ingest": dict(rows=3000, dim=64, centers=16, vocab=5000, requests=600,
                         batches=3, batch_rows=200, update_share=0.4),
    "pipeline": dict(docs=10000, vocab=8000, clusters=1000, cluster_min=3, files=4,
                     cluster_max=3, short_share=0.1),
}

STOPWORDS = ["the", "of", "and", "to", "a", "in", "that", "is", "with", "be",
             "have", "for", "it", "as", "on"]
CATEGORIES = ["news", "sports", "tech", "science", "travel", "food", "music",
              "film", "books", "health", "finance", "games"]
# The read mix cycles through the six families in this order, one slot each,
# so every run of a given length serves the same composition whatever the
# seed, and no family is weighted above another.
CYCLE = ["vector", "bm25", "where_sort", "vector_where", "hybrid", "aggregate"]
DAY_US = 86400 * 1000000
EPOCH_2020_US = 1577836800 * 1000000
SPAN_DAYS = 5 * 365


def size_key(workload):
    """Cache key of a workload's inputs: its sizes plus a digest of this
    generator, so a changed generator never reuses inputs made by the old one."""
    s = SIZES[workload]
    with open(__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    return workload + "-" + "-".join(f"{k}{s[k]}" for k in sorted(s)) + "-" + digest


def vocabulary(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def zipf_probs(n, a=1.1):
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def texts(rng, vocab, probs, n, lo, hi):
    lens = rng.integers(lo, hi + 1, size=n)
    flat = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[flat[pos:pos + ln]]))
        pos += ln
    return out


def user_bytes(body, category, dim):
    """Bytes of one object as the user hands it over: id, text, category,
    price, rating, published and the float32 vector."""
    return 8 + len(body.encode()) + len(category.encode()) + 8 + 8 + 8 + 4 * dim


def objects(rng, cfg, vocab, probs, centers, ids):
    n = len(ids)
    body = texts(rng, vocab, probs, n, 20, 40)
    cat = rng.choice(len(CATEGORIES), size=n, p=zipf_probs(len(CATEGORIES), 0.8))
    assign = rng.integers(0, cfg["centers"], size=n)
    vec = centers[assign] + 0.25 * rng.standard_normal((n, cfg["dim"]))
    return dict(
        doc_id=np.asarray(ids, dtype=np.int64),
        body=body,
        category=[CATEGORIES[c] for c in cat],
        price=np.round(rng.uniform(1.0, 1000.0, size=n), 2),
        rating=rng.integers(1, 6, size=n).astype(np.int64),
        published=EPOCH_2020_US + rng.integers(0, SPAN_DAYS, size=n) * DAY_US
        + rng.integers(0, DAY_US, size=n),
        vec=vec.astype(np.float32),
    )


def write_objects(path, o):
    dim = o["vec"].shape[1]
    table = pa.table({
        "doc_id": pa.array(o["doc_id"], pa.int64()),
        "body": pa.array(o["body"], pa.string()),
        "category": pa.array(o["category"], pa.string()),
        "price": pa.array(o["price"], pa.float64()),
        "rating": pa.array(o["rating"], pa.int64()),
        "published": pa.array(o["published"], pa.timestamp("us", tz="UTC")),
        "vec": pa.FixedSizeListArray.from_arrays(
            pa.array(o["vec"].reshape(-1), pa.float32()), dim).cast(
                pa.list_(pa.float32())),
    })
    pq.write_table(table, path)


def fmt_vec(v):
    return "[" + ", ".join(f"{x:.5f}" for x in v) + "]"


def iso_day(us):
    d = np.datetime64(int(us), "us").astype("datetime64[D]")
    return f"{d}T00:00:00Z"


def requests(rng, cfg, vocab, centers, n):
    """One seeded read stream: query shapes repeat, literals are fresh."""
    lo, hi = 30, min(len(vocab), 2000)
    out = []
    for i in range(n):
        fam = CYCLE[i % len(CYCLE)]
        q = {"i": i, "family": fam, "cycle": i // len(CYCLE)}
        vec = np.round(centers[rng.integers(0, cfg["centers"])]
                       + 0.25 * rng.standard_normal(cfg["dim"]), 5)
        words = " ".join(vocab[rng.integers(lo, hi, size=2)])
        cat = CATEGORIES[rng.integers(0, len(CATEGORIES))]
        if fam == "vector":
            q["vector"] = [float(x) for x in vec]
            q["k"] = 10
            q["gql"] = ("{ Get { Doc(limit: 10, nearVector: {vector: %s}) "
                        "{ doc_id category price _additional { distance } } } }" % fmt_vec(vec))
        elif fam == "bm25":
            q["query"] = words
            q["k"] = 10
            q["gql"] = ('{ Get { Doc(limit: 10, bm25: {query: "%s", properties: ["body"]}) '
                        "{ doc_id category _additional { score } } } }" % words)
        elif fam == "hybrid":
            q["gql"] = ('{ Get { Doc(limit: 10, hybrid: {query: "%s", properties: ["body"], '
                        "alpha: 0.5, fusionType: rankedFusion, vector: %s}) "
                        "{ doc_id category _additional { score } } } }" % (words, fmt_vec(vec)))
        elif fam == "vector_where":
            q["vector"] = [float(x) for x in vec]
            q["category"] = cat
            q["k"] = 10
            q["gql"] = ('{ Get { Doc(limit: 10, where: {operator: Equal, path: ["category"], '
                        'valueText: "%s"}, nearVector: {vector: %s}) '
                        "{ doc_id category _additional { distance } } } }" % (cat, fmt_vec(vec)))
        elif fam == "where_sort":
            price = round(float(rng.uniform(1.0, 900.0)), 2)
            before = EPOCH_2020_US + int(rng.integers(200, SPAN_DAYS)) * DAY_US
            q.update(min_price=price, before_us=before, k=20)
            q["gql"] = ('{ Get { Doc(where: {operator: And, operands: ['
                        '{operator: GreaterThan, path: ["price"], valueNumber: %s}, '
                        '{operator: LessThan, path: ["published"], valueDate: "%s"}]}, '
                        'sort: [{path: ["price"], order: asc}], limit: 20) '
                        "{ doc_id price category published } } }" % (price, iso_day(before)))
        else:
            rating = int(rng.integers(1, 5))
            q["min_rating"] = rating
            q["gql"] = ('{ Aggregate { Doc(groupBy: ["category"], where: {operator: GreaterThan, '
                        'path: ["rating"], valueInt: %d}) { meta { count } price { mean maximum } } } }'
                        % rating)
        out.append(q)
    return out


def gen_collection(rng, cfg, out):
    vocab = vocabulary(rng, cfg["vocab"])
    probs = zipf_probs(len(vocab))
    centers = rng.standard_normal((cfg["centers"], cfg["dim"]))
    base = objects(rng, cfg, vocab, probs, centers, np.arange(cfg["rows"]))
    write_objects(os.path.join(out, "collection.parquet"), base)
    # the last cycle is kept apart for warm-up; the timed stream never reaches it
    reqs = requests(rng, cfg, vocab, centers, cfg["requests"] + len(CYCLE))
    for name, part in (("requests.jsonl", reqs[:-len(CYCLE)]), ("warmup.jsonl", reqs[-len(CYCLE):])):
        with open(os.path.join(out, name), "w") as f:
            for q in part:
                f.write(json.dumps(q) + "\n")
    return vocab, probs, centers, base


def gen_serve_ingest(rng, cfg, out):
    vocab, probs, centers, base = gen_collection(rng, cfg, out)
    live = {int(i): (b, c) for i, b, c in
            zip(base["doc_id"], base["body"], base["category"])}
    os.makedirs(os.path.join(out, "batches"))
    next_id = cfg["rows"]
    tokens, batch_bytes = [], 0
    for b in range(cfg["batches"]):
        n_upd = int(cfg["batch_rows"] * cfg["update_share"])
        upd = rng.choice(next_id, size=n_upd, replace=False)
        new = np.arange(next_id, next_id + cfg["batch_rows"] - n_upd)
        next_id += len(new)
        ids = np.concatenate([upd, new])
        o = objects(rng, cfg, vocab, probs, centers, ids)
        # a token no other batch and no base object carries, in a seeded
        # subset of this batch's objects
        token = f"zqb{b:03d}x{int(rng.integers(1e6)):06d}"
        tokens.append(token)
        marked = rng.random(len(ids)) < 0.1
        marked[0] = True
        o["body"] = [f"{t} {token}" if m else t for t, m in zip(o["body"], marked)]
        write_objects(os.path.join(out, "batches", f"batch-{b:03d}.parquet"), o)
        for i, t, c in zip(o["doc_id"], o["body"], o["category"]):
            live[int(i)] = (t, c)
            batch_bytes += user_bytes(t, c, cfg["dim"])
    token_docs = {t: sorted(i for i, (body, _) in live.items() if body.endswith(" " + t))
                  for t in tokens}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({
            "rows": len(live),
            "batch_rows": cfg["batch_rows"],
            "batches": cfg["batches"],
            "batch_user_bytes": batch_bytes,
            "user_bytes": sum(user_bytes(b, c, cfg["dim"]) for b, c in live.values()),
            "bodies": {str(i): b for i, (b, _) in live.items()},
            "token_docs": token_docs,
        }, f)


def gen_pipeline(rng, cfg, out):
    vocab = vocabulary(rng, cfg["vocab"])
    probs = zipf_probs(len(vocab))
    n = cfg["docs"]
    short = rng.random(n) < cfg["short_share"]
    body = texts(rng, vocab, probs, n, 60, 120)
    shorts = texts(rng, vocab, probs, int(short.sum()), 8, 20)
    it = iter(shorts)
    body = [next(it) if s else b for b, s in zip(body, short)]
    # planted near-duplicate clusters: a long original plus copies with two
    # tokens replaced (3-shingle Jaccard around 0.9, above the 0.7 threshold)
    clusters, ids = [], list(range(n))
    originals = rng.choice(np.flatnonzero(~short), size=cfg["clusters"], replace=False)
    for o in originals:
        members = [int(o)]
        toks = body[o].split(" ")
        for _ in range(int(rng.integers(cfg["cluster_min"], cfg["cluster_max"] + 1)) - 1):
            t = list(toks)
            for p in rng.choice(len(t), size=2, replace=False):
                t[p] = vocab[rng.integers(30, len(vocab))]
            ids.append(len(ids))
            body.append(" ".join(t))
            members.append(ids[-1])
        clusters.append(members)
    domain = rng.choice(len(CATEGORIES), size=len(ids))
    table = pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64), pa.int64()),
        "text": pa.array(body, pa.string()),
        "domain": pa.array([CATEGORIES[d] for d in domain], pa.string()),
    })
    # one file per core, so the scan starts as many tasks as a local[4] session runs
    corpus = os.path.join(out, "corpus.parquet")
    os.makedirs(corpus)
    step = -(-table.num_rows // cfg["files"])
    for f in range(cfg["files"]):
        pq.write_table(table.slice(f * step, step), os.path.join(corpus, f"part-{f}.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"docs": len(ids), "clusters": clusters}, f)


GENERATORS = {"serve_ingest": gen_serve_ingest, "pipeline": gen_pipeline}


def ensure(cache_root, workload, seed):
    """Return the input directory for (workload, seed, size), generating it
    once. A half-written directory is never reused: generation writes to a
    temporary name and renames it into place."""
    out = os.path.join(cache_root, size_key(workload), f"seed-{seed}")
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](np.random.default_rng(seed), SIZES[workload], tmp)
    os.rename(tmp, out)
    return out
