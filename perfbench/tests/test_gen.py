import json
import os
import sys
import tempfile
import unittest
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for w in ("curate_release", "crawl_serve", "link_rank"):
            for seed in (gen.DEFAULT_SEED, 7):
                for copy in ("a", "b"):
                    d = os.path.join(cls.tmp.name, "%s-%d-%s" % (w, seed, copy))
                    gen.write(w, seed, d)
                    cls.dirs[(w, seed, copy)] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        for w in ("curate_release", "crawl_serve", "link_rank"):
            self.assertEqual(gen.digest(self.dirs[(w, 7, "a")]),
                             gen.digest(self.dirs[(w, 7, "b")]), w)

    def test_new_seed_new_draw(self):
        for w in ("curate_release", "crawl_serve", "link_rank"):
            self.assertNotEqual(gen.digest(self.dirs[(w, 7, "a")]),
                                gen.digest(self.dirs[(w, gen.DEFAULT_SEED, "a")]), w)

    def test_ensure_caches_per_seed(self):
        with tempfile.TemporaryDirectory() as root:
            p = gen.ensure("link_rank", 3, root)
            stamp = os.path.getmtime(os.path.join(p, "pages.jsonl"))
            self.assertEqual(gen.ensure("link_rank", 3, root), p)
            self.assertEqual(os.path.getmtime(os.path.join(p, "pages.jsonl")), stamp)
            self.assertNotEqual(gen.ensure("link_rank", 4, root), p)

    def test_curate_plants_stated_shares(self):
        plan = gen.PLANS["curate_release"]
        with open(os.path.join(self.dirs[("curate_release", 7, "a")], "truth.json")) as f:
            kinds = Counter(json.load(f)["kind"].values())
        n = plan["n_docs"]
        for kind in ("short", "german", "repetitive", "exact_dup", "near_dup", "contaminated"):
            share = kinds[kind] / n
            self.assertAlmostEqual(share, plan[kind + "_rate"], delta=1.0 / n, msg=kind)

    def test_crawl_covers_every_selector_and_date_form(self):
        d = self.dirs[("crawl_serve", 7, "a")]
        with open(os.path.join(d, "pages.jsonl")) as f:
            pages = [json.loads(line)["html"] for line in f]
        for marker in ('<time datetime=', "<time>", 'property="article:published_time"',
                       'name="pubdate"', 'name="date"', "<h1>", "<title>"):
            self.assertTrue(any(marker in h for h in pages), marker)
        self.assertTrue(any("<title>" not in h and "<h1>" not in h for h in pages))
        listings = ""
        for name in sorted(os.listdir(os.path.join(d, "listings"))):
            with open(os.path.join(d, "listings", name)) as f:
                listings += f.read()
        for marker in ("<article>", 'class=\\"post\\"', 'class=\\"blog-post featured\\"',
                       'class=\\"article\\"', 'class=\\"BlogEntry-card\\"'):
            self.assertIn(marker, listings)
        with open(os.path.join(d, "truth.json")) as f:
            truth = json.load(f)
        plan = gen.PLANS["crawl_serve"]
        self.assertEqual(truth["new_per_tick"], [plan["backlog"], plan["new_per_tick"]])
        # tick 1's blocks: its new articles, their cross-listings and the re-listings
        relisted = 1 - truth["new_per_tick"][1] / truth["listed_per_tick"][1]
        self.assertAlmostEqual(relisted, plan["relist_share"], delta=0.05)

    def test_every_host_links_out(self):
        d = self.dirs[("link_rank", 7, "a")]
        with open(os.path.join(d, "truth.json")) as f:
            truth = json.load(f)
        self.assertEqual(truth["n_domains"], gen.PLANS["link_rank"]["n_hosts"])
        self.assertGreater(truth["n_edges"], truth["n_domains"])


if __name__ == "__main__":
    unittest.main()
