"""Output checks: each workload's results against what the generator planted.

`run(workload, seed, input_dir, result)` returns (op_failures, run_failures):
per timed operation, the list of checks it failed; and the checks on the
run as a whole (the last operation's detail). Any entry is a failure.
"""

import hashlib
import json
import os
from urllib.parse import urlsplit

import gen

# Parameters the harness passes to the library (perfbench/scala/perfbench/
# Workloads.scala); the checks recompute what they imply.
REFINEDWEB_CAP = 80
RELEASE_CAP = 40
RECALL_FLOOR = 0.9
KNN_K = 10

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")


def pinned(workload, seed):
    """The pinned fingerprint of `workload` for `seed`, if one is pinned."""
    if not os.path.exists(EXPECTED_PATH):
        return None
    with open(EXPECTED_PATH) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def _jsonl(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def _sha1_lines(values):
    h = hashlib.sha1()
    for v in values:
        h.update(("%s\n" % v).encode("utf-8"))
    return h.hexdigest()


def _robots_allowed(url, rules):
    parts = urlsplit(url)
    best = {"allow": -1, "disallow": -1}
    for r in rules:
        if r["host"] == parts.hostname and r["prefix"] and \
                parts.path.startswith(r["prefix"]):
            best[r["rule"]] = max(best[r["rule"]], len(r["prefix"]))
    return best["allow"] >= best["disallow"]


def expected_release(docs, domain, released_from, takedown, blocked, robots):
    """(n_docs, sum_tokens, xor of content fingerprints) of the release the
    library should build from the ids `released_from`."""
    seen, per_domain, n, tokens, fp = set(), {}, 0, 0, 0
    for i in sorted(released_from):
        d = docs[i]
        h = gen.md5_hex(d["text"])
        if h in takedown or domain[i] in blocked or not _robots_allowed(d["url"], robots):
            continue
        if h in seen:
            continue
        seen.add(h)
        if per_domain.get(domain[i], 0) >= RELEASE_CAP:
            continue
        per_domain[domain[i]] = per_domain.get(domain[i], 0) + 1
        n += 1
        tokens += len(d["text"].lower().split())
        fp ^= int(h[:15], 16)
    return n, tokens, fp


def check_curate(inp, result):
    docs = {d["doc_id"]: d for d in _jsonl(os.path.join(inp, "docs.jsonl"))}
    with open(os.path.join(inp, "truth.json")) as f:
        truth = json.load(f)
    kind = {int(k): v for k, v in truth["kind"].items()}
    domain = {int(k): v for k, v in truth["domain"].items()}
    source = {int(k): v for k, v in truth["source"].items()}
    c = result["check"]
    fails = []
    counts = c["counts"]
    chain = ["raw", "gated", "exact", "near", "capped", "clean"]
    if counts["raw"] != len(docs):
        fails.append("raw count %d != %d documents" % (counts["raw"], len(docs)))
    for a, b in zip(chain, chain[1:]):
        if not 0 < counts[b] <= counts[a]:
            fails.append("stage %s keeps %d of %d" % (b, counts[b], counts[a]))
    curated = set(c["curated_ids"])
    flagged = set(c["flagged_ids"])
    if not curated <= set(docs):
        fails.append("curated ids outside the input")
    dropped_kinds = [i for i in curated if kind[i] in ("short", "german", "repetitive")]
    if dropped_kinds:
        fails.append("%d gate-failing documents curated" % len(dropped_kinds))
    hashes = [gen.md5_hex(docs[i]["text"]) for i in curated if i in docs]
    if len(set(hashes)) != len(hashes):
        fails.append("curated content hashes are not unique")
    near = [i for i in curated if kind[i] == "near_dup" and source[i] in curated]
    if near:
        fails.append("%d near-duplicates curated beside their source" % len(near))
    per_dom = {}
    for i in curated:
        per_dom[domain.get(i)] = per_dom.get(domain.get(i), 0) + 1
    if per_dom and max(per_dom.values()) > REFINEDWEB_CAP:
        fails.append("domain cap %d exceeded" % REFINEDWEB_CAP)
    planted = {i for i in curated if kind[i] == "contaminated"}
    if flagged != planted:
        fails.append("flagged %d documents, planted contamination curated: %d"
                     % (len(flagged), len(planted)))
    if counts["clean"] != len(curated - flagged):
        fails.append("clean count %d != curated minus flagged" % counts["clean"])
    takedown = {r["h"] for r in _jsonl(os.path.join(inp, "takedown.jsonl"))}
    blocked = {r["domain"] for r in _jsonl(os.path.join(inp, "blocked.jsonl"))}
    robots = _jsonl(os.path.join(inp, "robots.jsonl"))
    want = expected_release(docs, domain, curated - flagged, takedown, blocked, robots)
    rows = c["manifest"]
    got = (sum(r[1] for r in rows), sum(r[2] for r in rows), 0)
    for r in rows:
        got = (got[0], got[1], got[2] ^ r[3])
    if got != want:
        fails.append("release (docs, tokens, xor fp) %s != expected %s" % (got, want))
    if [r[0] for r in rows] != list(range(len(rows))):
        fails.append("shard ids are not 0..%d" % (len(rows) - 1))
    return fails


def check_crawl(inp, result, plan):
    pages = _jsonl(os.path.join(inp, "pages.jsonl"))
    c = result["check"]
    n = plan["backlog"] + plan["new_per_tick"]
    op_fails = []
    for o in result["ops"]:
        info, f = o["info"], []
        if info["dashboard_total"] != n:
            f.append("dashboard total %d != %d articles" % (info["dashboard_total"], n))
        if info["knn_rows"] != plan["n_probes"] * KNN_K:
            f.append("lookups returned %d neighbours" % info["knn_rows"])
        if info["sink_files_written"] < 1:
            f.append("the tick wrote no sink file")
        op_fails.append(f)
    fails = []
    if c["sink_rows"] != c["sink_distinct"]:
        fails.append("sink sources are not unique")
    if c["sink_distinct"] != n:
        fails.append("sink holds %d articles, %d were planted" % (c["sink_distinct"], n))
    if c["sink_sources_sha1"] != _sha1_lines(sorted(p["sources"] for p in pages[:n])):
        fails.append("sink sources differ from the planted articles")
    if c["recall_at_k"] < RECALL_FLOOR:
        fails.append("recall@%d %.3f below %.2f" % (KNN_K, c["recall_at_k"], RECALL_FLOOR))
    return op_fails, fails


def check_link(inp, result):
    with open(os.path.join(inp, "truth.json")) as f:
        truth = json.load(f)
    op_fails = []
    for o in result["ops"]:
        i, f = o["info"], []
        if (i["edges"], i["links"]) != (truth["n_edges"], truth["n_links"]):
            f.append("host graph (edges, links) %s != planted %s"
                     % ((i["edges"], i["links"]), (truth["n_edges"], truth["n_links"])))
        if not i["nodes"] == i["hits_nodes"] == i["lpa_nodes"] == truth["n_domains"]:
            f.append("node counts %s != %d domains" % (
                (i["nodes"], i["hits_nodes"], i["lpa_nodes"]), truth["n_domains"]))
        leak = (i["edges"] + i["nodes"]) * i["rounds"]
        if not i["scale"] - leak <= i["rank_sum"] <= i["scale"]:
            f.append("rank mass %d not conserved" % i["rank_sum"])
        for k in ("hub_sum", "auth_sum"):
            if not i["scale"] - i["nodes"] <= i[k] <= i["scale"]:
                f.append("%s %d not normalized" % (k, i[k]))
        if i["lpa_foreign_labels"]:
            f.append("%d labels are not nodes" % i["lpa_foreign_labels"])
        op_fails.append(f)
    return op_fails, []


def run(workload, seed, inp, result):
    """(per-op failure lists, run-level failures) for one run's result."""
    if workload == "curate_release":
        op_fails, fails = [[] for _ in result["ops"]], check_curate(inp, result)
    elif workload == "crawl_serve":
        op_fails, fails = check_crawl(inp, result, gen.PLANS[workload])
    else:
        op_fails, fails = check_link(inp, result)
    fps = [o["fingerprint"] for o in result["ops"]]
    for k, fp in enumerate(fps):
        if fp != fps[0]:
            op_fails[k].append("result differs from the first operation's")
    if workload == "curate_release" and result["check"].get("fingerprint") != fps[-1]:
        fails.append("check detail is not from the last operation")
    want = pinned(workload, seed)
    if want is not None and fps[0] != want:
        op_fails[0].append("fingerprint %s != pinned %s" % (fps[0], want))
    return op_fails, fails
