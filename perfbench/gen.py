"""Seeded input generators, one per workload.

Each generator takes the seed and writes the workload's inputs into a
directory. Next to a MIW log or a corpus shard it writes the facts the
output checks need (``<input>.expected.json``): line, kept-line and key
counts plus its own fold of a few sampled groups (MIW), or the planted
families and their exact-clone groups (dedup). The stream check needs
no such file.

Run alone:  python3 perfbench/gen.py <workload> <seed> <outdir>
"""

import json
import os
import random
import sys

# ------------------------------------------------------------ MIW proxy

PROXY_HEADER = [
    "#Software: SGOS 6.7.4.1",
    "#Version: 1.0",
    "#Fields: date time time-taken c-ip sc-status s-action sc-bytes cs-bytes "
    "cs-method cs-uri-scheme cs-host cs-uri-port cs-uri-path cs-uri-query "
    "cs-username cs-auth-group cs(User-Agent) sc-filter-result "
    "cs-categories cs-uri",
]
PROXY_ACTIONS = ["TCP_HIT", "TCP_MISS", "TCP_NC_MISS", "TCP_DENIED", "TCP_TUNNELED"]
PROXY_AGENTS = [
    '"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"',
    '"Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0"',
    '"curl/7.88.1"',
    '"Microsoft-CryptoAPI/10.0"',
]
PROXY_CATEGORIES = ["News", "Business", "Technology", "Social_Networking", "Search"]


def proxy_key_pool(rng, n):
    """n distinct (day, hour, user) group keys."""
    pool = set()
    while len(pool) < n:
        pool.add((rng.randint(1, 3), rng.randint(0, 23), "u%05d" % rng.randint(0, 49999)))
    return sorted(pool)


def proxy_lines(rng, n_lines, n_keys):
    """Yields (line, fold) pairs; fold is None for a line the format
    drops (comment or truncated), else (key, values)."""
    keys = proxy_key_pool(rng, n_keys)
    rnd = rng.random  # int(rnd() * n): a fast uniform pick from range(n)
    hosts = ["h%03d.example%d.com" % (i, i % 7) for i in range(300)]
    for h in PROXY_HEADER:
        yield h, None
    for _ in range(n_lines):
        day, hour, user = keys[int(rnd() * len(keys))]
        host = hosts[int(rnd() * len(hosts))]
        scheme = "https" if rnd() < 0.6 else "http"
        port = ("443", "8443")[rnd() < 0.5] if scheme == "https" else ("80", "8080")[rnd() < 0.5]
        default = (scheme, port) in (("https", "443"), ("http", "80"))
        path = "/p%d/i%d.html" % (int(rnd() * 50), int(rnd() * 1000))
        url = "%s://%s%s%s" % (scheme, host, "" if default else ":" + port, path)
        action = PROXY_ACTIONS[int(rnd() * len(PROXY_ACTIONS))]
        category = PROXY_CATEGORIES[int(rnd() * len(PROXY_CATEGORIES))]
        taken = 1 + int(rnd() * 4999)
        sc_bytes = 100 + int(rnd() * 199900)
        toks = [
            "2015-03-%02d" % day,
            "%02d:%02d:%02d" % (hour, int(rnd() * 60), int(rnd() * 60)),
            str(taken), "10.%d.%d.%d" % (int(rnd() * 256), int(rnd() * 256), int(rnd() * 256)),
            "200", action, str(sc_bytes), str(100 + int(rnd() * 1900)),
            "GET", scheme, host, port, path, "-", user, "staff",
            PROXY_AGENTS[int(rnd() * len(PROXY_AGENTS))],
            "DENIED" if action == "TCP_DENIED" else "OBSERVED",
            category, url,
        ]
        if rnd() < 0.01:
            # a truncated record: fails the format's row-bounds guard
            yield " ".join(toks[:9]), None
            continue
        norm = "%s://%s%s" % (scheme, host, "" if default else ":" + port)
        key = "2015-3-%d_%02d_%s" % (day, hour, user)
        yield " ".join(toks), (key, (taken, sc_bytes, category, norm, action == "TCP_DENIED"))


def fold_proxy(acc, v):
    taken, sc_bytes, category, url, denied = v
    if acc is None:
        acc = {"logs": 0, "taken": 0, "sc_bytes": 0, "categories": set(), "urls": {}, "denied": 0}
    acc["logs"] += 1
    acc["taken"] += taken
    acc["sc_bytes"] += sc_bytes
    acc["categories"].add(category)
    acc["urls"][url] = acc["urls"].get(url, 0) + 1
    acc["denied"] += 1 if denied else 0
    return acc


def final_proxy(key, a):
    urls = sorted(a["urls"])
    return {"id": key, "logs": a["logs"], "sc_bytes": a["sc_bytes"],
            "time_taken": a["taken"] / a["logs"], "denied": a["denied"],
            "category": sorted(a["categories"]), "url": urls,
            "url_count": [a["urls"][u] for u in urls]}


def write_proxy(path, lines, rng, n_samples=24):
    total = kept = 0
    groups = {}
    with open(path, "w") as f:
        for line, rec in lines:
            f.write(line)
            f.write("\n")
            total += 1
            if rec is not None:
                kept += 1
                key, v = rec
                groups[key] = fold_proxy(groups.get(key), v)
    keys = sorted(groups)
    samples = [final_proxy(k, groups[k]) for k in rng.sample(keys, min(n_samples, len(keys)))]
    expected = {"lines": total, "kept": kept, "groups": len(groups), "samples": samples}
    with open(path + ".expected.json", "w") as f:
        json.dump(expected, f)


# ------------------------------------------------------------ corpus

def corpus_shard(rng, base_id, n_clusters, n_singletons, n_clones, vocab):
    """Planted near-dup clusters (members differ from the cluster's base
    text by one word in 300+), exact clones, unrelated singletons.
    Returns (docs, families): each family is a list of exact-clone
    groups, each group the sorted doc ids of one distinct text. Families
    are drawn independently from a large vocabulary, so no near-dup pair
    crosses two families."""
    rnd = rng.random
    families = []
    for _ in range(n_clusters):
        base = [vocab[int(rnd() * len(vocab))] for _ in range(rng.randrange(300, 360))]
        members = [" ".join(base)]
        for _ in range(rng.randrange(1, 5)):
            variant = list(base)
            variant[rng.randrange(len(variant))] = vocab[int(rnd() * len(vocab))]
            members.append(" ".join(variant))
        families.append(members)
    for _ in range(n_singletons):
        families.append([" ".join(vocab[int(rnd() * len(vocab))]
                                  for _ in range(rng.randrange(300, 360)))])
    for _ in range(n_clones):
        fam = families[rng.randrange(len(families))]
        fam.append(fam[rng.randrange(len(fam))])
    n_docs = sum(len(f) for f in families)
    ids = rng.sample(range(base_id, base_id + 4 * n_docs), n_docs)
    docs, groups, k = [], [], 0
    for fam in families:
        fam_ids = ids[k:k + len(fam)]
        k += len(fam)
        by_text = {}
        for doc_id, text in zip(fam_ids, fam):
            by_text.setdefault(text, []).append(doc_id)
        groups.append(sorted(sorted(g) for g in by_text.values()))
        docs.extend(zip(fam_ids, fam))
    rng.shuffle(docs)
    return docs, groups


def write_corpus(path, rng, base_id, n_clusters, n_singletons, n_clones, vocab):
    docs, families = corpus_shard(rng, base_id, n_clusters, n_singletons, n_clones, vocab)
    with open(path, "w") as f:
        for doc_id, text in docs:
            f.write("%d\t%s\n" % (doc_id, text))
    with open(path + ".expected.json", "w") as f:
        json.dump({"docs": len(docs), "families": families}, f)


# ------------------------------------------------------------ workloads

# Input sizes per operation. Changing them changes every recorded number.
PROXY_FILES, PROXY_LINES, PROXY_KEYS = 1, 60000, 6000
CORPUS_SHARDS, CORPUS_CLUSTERS, CORPUS_SINGLETONS, CORPUS_CLONES = 2, 100, 125, 30


def generate(workload, seed, outdir):
    """Writes the workload's inputs under outdir; returns the file list."""
    os.makedirs(outdir, exist_ok=True)
    rng = random.Random("%s:%d" % (workload, seed))
    paths = []
    if workload == "miw_proxy":
        for i in range(PROXY_FILES):
            p = os.path.join(outdir, "proxy_%d.log" % i)
            write_proxy(p, proxy_lines(rng, PROXY_LINES, PROXY_KEYS), rng)
            paths.append(p)
    elif workload == "dedup_corpus":
        vocab = ["w%x" % rng.getrandbits(40) for _ in range(30000)]
        for i in range(CORPUS_SHARDS):
            p = os.path.join(outdir, "shard_%d.tsv" % i)
            write_corpus(p, rng, (i + 1) * 10_000_000, CORPUS_CLUSTERS, CORPUS_SINGLETONS,
                         CORPUS_CLONES, vocab)
            paths.append(p)
    else:
        raise ValueError("unknown workload %r" % workload)
    return paths


if __name__ == "__main__":
    print("\n".join(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
