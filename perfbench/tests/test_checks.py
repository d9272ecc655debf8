import copy
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

SEED = 7


def load(d, name):
    with open(os.path.join(d, name)) as f:
        return [json.loads(line) for line in f]


def curate_result(d):
    """What a correct run reports on the inputs in `d`, derived from the plant
    record the way the library's stages should treat it."""
    docs = {r["doc_id"]: r for r in load(d, "docs.jsonl")}
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    kind = {int(k): v for k, v in truth["kind"].items()}
    domain = {int(k): v for k, v in truth["domain"].items()}
    gated = [i for i in sorted(docs) if kind[i] not in ("short", "german", "repetitive")]
    seen, exact = set(), []
    for i in gated:
        h = gen.md5_hex(docs[i]["text"])
        if h not in seen:
            seen.add(h)
            exact.append(i)
    near = [i for i in exact if kind[i] != "near_dup"]
    per_dom, capped = {}, []
    for i in near:
        per_dom[domain[i]] = per_dom.get(domain[i], 0) + 1
        if per_dom[domain[i]] <= checks.REFINEDWEB_CAP:
            capped.append(i)
    flagged = [i for i in capped if kind[i] == "contaminated"]
    clean = set(capped) - set(flagged)
    takedown = {r["h"] for r in load(d, "takedown.jsonl")}
    blocked = {r["domain"] for r in load(d, "blocked.jsonl")}
    n, tokens, fp = checks.expected_release(docs, domain, clean, takedown, blocked,
                                            load(d, "robots.jsonl"))
    return {"ops": [{"fingerprint": "f", "info": {}}],
            "check": {"counts": {"raw": len(docs), "gated": len(gated), "exact": len(exact),
                                 "near": len(near), "capped": len(capped), "clean": len(clean)},
                      "curated_ids": capped, "flagged_ids": flagged,
                      "manifest": [[0, n, tokens, fp]], "fingerprint": "f"}}


class ChecksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {w: gen.ensure(w, SEED, cls.tmp.name)
                    for w in ("curate_release", "crawl_serve", "link_rank")}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def assertPasses(self, workload, result):
        op_fails, fails = checks.run(workload, SEED, self.dirs[workload], result)
        self.assertEqual((op_fails, fails), ([[] for _ in result["ops"]], []))

    def assertFails(self, workload, result):
        op_fails, fails = checks.run(workload, SEED, self.dirs[workload], result)
        self.assertTrue(fails or any(op_fails), "perturbed result passed")

    def test_curate_accepts_correct_and_rejects_perturbed(self):
        good = curate_result(self.dirs["curate_release"])
        self.assertPasses("curate_release", good)
        bad = copy.deepcopy(good)
        bad["check"]["manifest"][0][1] += 1
        self.assertFails("curate_release", bad)
        bad = copy.deepcopy(good)
        bad["check"]["flagged_ids"] = bad["check"]["flagged_ids"][1:]
        self.assertFails("curate_release", bad)
        bad = copy.deepcopy(good)
        bad["ops"].append({"fingerprint": "g", "info": {}})
        self.assertFails("curate_release", bad)

    def test_crawl_accepts_correct_and_rejects_perturbed(self):
        plan = gen.PLANS["crawl_serve"]
        pages = load(self.dirs["crawl_serve"], "pages.jsonl")
        n = plan["backlog"] + plan["new_per_tick"]
        ops = [{"fingerprint": "f", "info": {
            "dashboard_total": n, "knn_rows": plan["n_probes"] * checks.KNN_K,
            "sink_files_written": 1}} for _ in range(2)]
        good = {"ops": ops, "check": {
            "sink_rows": n, "sink_distinct": n, "recall_at_k": 0.97,
            "sink_sources_sha1": checks._sha1_lines(sorted(p["sources"] for p in pages[:n]))}}
        self.assertPasses("crawl_serve", good)
        bad = copy.deepcopy(good)
        bad["ops"][1]["info"]["dashboard_total"] -= 1
        self.assertFails("crawl_serve", bad)
        bad = copy.deepcopy(good)
        bad["ops"][1]["fingerprint"] = "g"
        self.assertFails("crawl_serve", bad)
        bad = copy.deepcopy(good)
        bad["check"]["sink_rows"] += 1
        self.assertFails("crawl_serve", bad)
        bad = copy.deepcopy(good)
        bad["check"]["recall_at_k"] = 0.5
        self.assertFails("crawl_serve", bad)

    def test_link_accepts_correct_and_rejects_perturbed(self):
        with open(os.path.join(self.dirs["link_rank"], "truth.json")) as f:
            truth = json.load(f)
        scale = 10 ** 12
        info = {"edges": truth["n_edges"], "links": truth["n_links"],
                "nodes": truth["n_domains"], "hits_nodes": truth["n_domains"],
                "lpa_nodes": truth["n_domains"], "rounds": 5, "scale": scale,
                "rank_sum": scale - 1000, "hub_sum": scale - 3, "auth_sum": scale - 2,
                "lpa_foreign_labels": 0}
        good = {"ops": [{"fingerprint": "f", "info": info}], "check": info}
        self.assertPasses("link_rank", good)
        for key, value in (("rank_sum", scale + 1), ("edges", truth["n_edges"] - 1),
                           ("lpa_foreign_labels", 1), ("hub_sum", scale // 2)):
            bad = copy.deepcopy(good)
            bad["ops"][0]["info"][key] = value
            self.assertFails("link_rank", bad)

    def test_pinned_fingerprint_is_compared_for_the_default_seed(self):
        want = checks.pinned("link_rank", gen.DEFAULT_SEED)
        if want is None:
            self.skipTest("no pinned fingerprint")
        self.assertEqual(len(want), 40)


if __name__ == "__main__":
    unittest.main()
