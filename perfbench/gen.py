"""Request streams: a pure function of (workload, seed).

A request is (client, seq, kind, check, params). client -1 marks the
warm-up requests that set-up runs before the timed window; they are the
same for every seed. `check` marks the requests whose output the
benchmark compares with an independent answer after the window.

- explore: four closed-loop clients, each a stream of bpaotu UI clicks
  cycling through a block of ten kinds (EXPLORE_BLOCK), one in ten a
  download. Two of the five parameterised requests in a block carry a
  fresh literal (the long tail, which does not repeat); the others
  pick one of three default views by Zipf rank (the hot head, which
  repeats). The kinds and the tail slots are fixed, so the work per
  window is nearly the same for every seed; the seed draws the
  parameters.
- analyze: one client; every pass is a comparison over a seeded
  contextual sample subset of ANALYZE_SAMPLES customers.
- curate: one client; every pass ingests a seeded CSV batch of
  CURATE_DOCS documents with planted duplicate clusters.
"""
import datetime

import numpy as np

WORKLOADS = ("explore", "analyze", "curate")
# four sessions on four cores: with two, the per-core speed swings of a
# shared 4-vCPU VM moved a run's mean latency about twice as much
# (IQR/median 0.19 against 0.08-0.10 over ten seeds)
EXPLORE_CLIENTS = 4
EXPLORE_PER_CLIENT = 2000
ANALYZE_PASSES = 400
ANALYZE_SAMPLES = 200
CURATE_DOCS = 1500
WARM_CURATE_DOCS = 50
ZIPF_A = 1.5
HEAD = 3
CHECK_FRAC = 0.1

# Each explore client cycles through this block of ten clicks, client c
# starting c/4 of a block ahead of the first: heavy and light views
# alternate, the filter view comes twice and a download (BIOM in even
# blocks, CSV in odd ones) once. The order is fixed so that every
# window of a given length sees the same mix; the seed draws the
# parameters.
EXPLORE_BLOCK = ("filter", "krona", "keyset", "browse", "rollup",
                 "histogram", "filter", "contingency", "download", "diversity")
DOWNLOADS = ("biom", "csv")
EXPLORE_KINDS = tuple(dict.fromkeys(k for k in EXPLORE_BLOCK if k != "download")) + DOWNLOADS
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()

HEADS = {
    "filter": [("F", "100000.0", "400000.0", "1-URGENT,2-HIGH", "450000.0", "MACHINERY"),
               ("O", "50000.0", "250000.0", "3-MEDIUM", "400000.0", "BUILDING"),
               ("P", "200000.0", "300000.0", "2-HIGH,5-LOW", "480000.0", "HOUSEHOLD")],
    "browse": [("0", "ECONOMY"), ("1", "PROMO"), ("2", "SMALL")],
    "histogram": [("25000.0",), ("50000.0",), ("10000.0",)],
    "keyset": [("1997-06-01", "0", "50"), ("1995-01-01", "0", "50"),
               ("1999-01-01", "0", "50")],
}


def _tail(kind, rng):
    """A fresh literal for a parameterised kind."""
    if kind == "filter":
        lo = round(float(rng.uniform(1000, 300000)), 2)
        hi = round(lo + float(rng.uniform(10000, 200000)), 2)
        k = int(rng.integers(1, 4))
        prios = sorted(rng.choice(PRIORITIES, k, replace=False))
        return (str(rng.choice(STATUS)), repr(lo), repr(hi), ",".join(prios),
                repr(round(float(rng.uniform(300000, 499000)), 2)),
                str(rng.choice(SEGMENTS)))
    if kind == "browse":
        return (str(int(rng.integers(0, 3))), str(rng.choice(TYPES)))
    if kind == "histogram":
        return (repr(500.0 * int(rng.integers(2, 401))),)
    if kind == "keyset":
        day = datetime.date(1995, 1, 1) + datetime.timedelta(int(rng.integers(0, 2373)))
        return (day.isoformat(), str(int(rng.integers(0, 150000))), "50")
    return ()


def _head(kind, rng):
    """A default view, by Zipf rank among the HEAD defaults."""
    w = 1.0 / np.arange(1, HEAD + 1) ** ZIPF_A
    return HEADS[kind][int(rng.choice(HEAD, p=w / w.sum()))]


def explore(seed):
    """Warm-up requests fetch every kind's first default view. In each
    block, two of the five parameterised requests (rotating from block
    to block) carry a fresh literal; the others pick a default view."""
    reqs = [(-1, i, k, False, HEADS[k][0] if k in HEADS else ())
            for i, k in enumerate(EXPLORE_KINDS)]
    n = len(EXPLORE_BLOCK)
    slots = [j for j, k in enumerate(EXPLORE_BLOCK) if k in HEADS]
    for c in range(EXPLORE_CLIENTS):
        rng = np.random.default_rng([seed, c])
        seen = set()
        for i in range(EXPLORE_PER_CLIENT):
            pos = i + c * n // EXPLORE_CLIENTS
            block, j = divmod(pos, n)
            kind = EXPLORE_BLOCK[j]
            if kind == "download":
                kind = DOWNLOADS[block % 2]
            params = ()
            if kind in HEADS:
                tail = slots.index(j) in {block % len(slots), (block + 2) % len(slots)}
                params = _tail(kind, rng) if tail else _head(kind, rng)
            check = kind not in seen or rng.random() < CHECK_FRAC
            seen.add(kind)
            reqs.append((c, i, kind, bool(check), params))
    return reqs


def _analyze_params(rng):
    nations = sorted(int(x) for x in rng.choice(25, 3, replace=False))
    return (",".join(map(str, nations)), str(rng.choice(SEGMENTS)),
            str(ANALYZE_SAMPLES), str(int(rng.integers(0, 2**31 - 1))))


def analyze(seed):
    reqs = [(-1, 0, "pass", False, ("0,1,2", "AUTOMOBILE", "40", "0"))]
    rng = np.random.default_rng([seed, 0])
    for i in range(ANALYZE_PASSES):
        check = i == 0 or rng.random() < 0.25
        reqs.append((0, i, "pass", bool(check), _analyze_params(rng)))
    return reqs


def batch(seed, idx, n_docs):
    """One ingest batch as (doc_id, text, lang, source, n_chars) rows:
    a quarter of the documents seed duplicate clusters of 1-5 extra
    members (exact copies or a few words changed), the rest are
    unique."""
    rng = np.random.default_rng([seed, 1, idx])
    vocab = np.asarray(WORDS, dtype=object)
    texts = []
    while len(texts) < n_docs:
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
        if rng.random() < 0.25:
            for _ in range(int(rng.integers(1, 6))):
                w = list(words)
                if rng.random() < 0.7:
                    for _ in range(int(rng.integers(1, 4))):
                        w[int(rng.integers(0, len(w)))] = str(rng.choice(vocab))
                texts.append(" ".join(w))
    texts = texts[:n_docs]
    order = rng.permutation(n_docs)
    langs = ["de", "en", "es", "fr", "zh"]
    return [(idx * 100000 + i, texts[j], langs[int(rng.integers(0, 5))], "batch",
             len(texts[j])) for i, j in enumerate(order)]


def curate(seed, passes):
    """Requests name their batch; the batch rows come from `batch`."""
    reqs = [(-1, 0, "pass", False, ("warm.csv",))]
    for i in range(passes):
        reqs.append((0, i, "pass", True, (f"p{i}.csv",)))
    return reqs


def batches(seed, passes):
    """file name -> rows for every batch `curate(seed, passes)` names."""
    out = {"warm.csv": batch(0, 99999, WARM_CURATE_DOCS)}
    for i in range(passes):
        out[f"p{i}.csv"] = batch(seed, i, CURATE_DOCS)
    return out


def stream(workload, seed, curate_passes=0):
    if workload == "explore":
        return explore(seed)
    if workload == "analyze":
        return analyze(seed)
    if workload == "curate":
        return curate(seed, curate_passes)
    raise ValueError(f"unknown workload {workload!r}")


def to_line(req):
    client, seq, kind, check, params = req
    return "\t".join([str(client), str(seq), kind, "1" if check else "0", *params])


def batch_csv(rows):
    lines = ["doc_id,text,lang,source,n_chars"]
    lines += [f"{d},{t},{l},{s},{n}" for d, t, l, s, n in rows]
    return "\n".join(lines) + "\n"
