"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed gives
byte-identical files, a new seed gives a fresh draw. Output is cached per
(workload, size, seed) under a cache directory, so generation never runs in a
timed phase.

Files written per workload (JSON lines unless noted):

  curate_release  docs.jsonl (doc_id, url, text), eval.jsonl (eval_id, text),
                  takedown.jsonl (h), blocked.jsonl (domain),
                  robots.jsonl (host, rule, prefix)
  crawl_serve     listings/tick_000{0,1}.jsonl (source, html), pages.jsonl
                  (sources, html), vectors.jsonl (vec_id, embedding),
                  probes.jsonl (vec_id, embedding)
  link_rank       pages.jsonl (doc_id, url, html)

plus truth.json (what was planted, for the output checks) and plan.json (the
sizes and stated rates) in each directory.
"""

import bisect
import hashlib
import json
import os
import random
import shutil

DEFAULT_SEED = 1

# Marker words the engine's language ID and Gopher gates look at.
FUNCTION_WORDS = ["the", "and", "of", "to", "is", "in", "that", "it",
                  "be", "have", "with"]
GERMAN_WORDS = ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"]
_RESERVED = set(FUNCTION_WORDS + GERMAN_WORDS + [
    "el", "los", "las", "que", "una", "para", "con", "por", "le", "la",
    "les", "et", "des", "une", "dans", "pour", "shi", "bu", "wo", "ni",
    "zai", "hen", "ma", "ba"])
_SYLLABLES = ["ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "pi",
              "ne", "mar", "zo", "qui", "fen", "ta", "gra", "bel", "os",
              "lin", "chu", "var", "tes", "mo", "rik", "an", "sel", "dra",
              "wim", "hu", "col", "nes", "ip"]
_TLDS = ["com", "org", "net", "co.uk", "io", "de"]

# Sizes and stated plant rates. One size per workload: the benchmark always
# runs the same amount of input, only the draw changes with the seed.
PLANS = {
    "curate_release": {
        "n_docs": 1200, "n_domains": 300, "vocab": 30000, "zipf_s": 1.05,
        "short_rate": 0.04, "german_rate": 0.04, "repetitive_rate": 0.04,
        "exact_dup_rate": 0.08, "near_dup_rate": 0.06,
        "contaminated_rate": 0.01, "takedown_rate": 0.01,
        "n_eval": 40, "eval_words": 30, "private_rate": 0.2,
    },
    "crawl_serve": {
        "n_sources": 4, "backlog": 1000, "new_per_tick": 40,
        "relist_share": 0.3, "crosslist_share": 0.05, "vocab": 30000,
        "zipf_s": 1.05, "n_vectors": 8000, "dim": 32, "n_clusters": 48,
        "n_probes": 16,
    },
    "link_rank": {
        "n_hosts": 1000, "n_pages": 5000, "zipf_s": 1.0,
        "min_links": 3, "max_links": 8,
    },
}

DATE_FORMATS = [
    # one sample per format the engine's lenient date cascade accepts
    "{Y}-{m}-{d}T{H}:{M}:{S}+00:00", "{Y}-{m}-{d}T{H}:{M}:{S}Z",
    "{Y}-{m}-{d}T{H}:{M}:{S}", "{Y}-{m}-{d} {H}:{M}:{S}", "{Y}-{m}-{d}",
    "{wd}, {d} {b} {Y} {H}:{M}:{S} GMT", "{wd}, {d} {b} {Y} {H}:{M}:{S} +0200",
    "{d} {b} {Y} {H}:{M}:{S}", "{d} {b} {Y}", "{d} {B} {Y} {H}:{M}:{S}",
    "{d} {B} {Y}", "{B} {di}, {Y} {h}:{M} {p}", "{B} {di}, {Y}",
    "{b} {di}, {Y}", "{B} {di} {Y} {h}:{M} {p}", "{B} {di} {Y}",
    "{b} {di} {Y}", "{Y}/{m}/{d}", "{Y}.{m}.{d}", "{m}/{d}/{Y}",
    "{dd13}/{m}/{Y}", "{B} {ord}, {Y}", "{bdot} {di}, {Y}",
]
_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_WEEKDAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
DATE_CARRIERS = ["time_attr", "time_body", "meta_property", "meta_pubdate",
                 "meta_date"]
LISTING_STYLES = ["article", "div.post", "div.blog-post", "div.article",
                  "fallback"]


def _rng(seed, part):
    return random.Random("%s:%s" % (seed, part))


class Zipf:
    """Draws ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""

    def __init__(self, n, s):
        acc, cum = 0.0, []
        for k in range(n):
            acc += 1.0 / (k + 1) ** s
            cum.append(acc)
        self.cum, self.total = cum, acc

    def draw(self, rng):
        return min(bisect.bisect_left(self.cum, rng.random() * self.total),
                   len(self.cum) - 1)

    def quota(self, rng, n):
        """n ranks in which each rank appears its expected number of times
        (largest remainders), in a seeded order: the seed changes which
        item gets which rank, never how often a rank occurs."""
        weights = [b - a for a, b in zip([0.0] + self.cum, self.cum)]
        return quota(rng, weights, n)


def quota(rng, weights, n):
    """n category indices, category i exactly its share weights[i]/sum of n
    (largest remainders), shuffled by rng."""
    total = sum(weights)
    exact = [w * n / total for w in weights]
    counts = [int(x) for x in exact]
    by_remainder = sorted(range(len(weights)), key=lambda i: (counts[i] - exact[i], i))
    for i in by_remainder[:n - sum(counts)]:
        counts[i] += 1
    out = [i for i, c in enumerate(counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def vocabulary(seed, n):
    """n distinct lowercase words, none of them a marker word."""
    rng = _rng(seed, "vocab")
    seen, words = set(), []
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen and w not in _RESERVED:
            seen.add(w)
            words.append(w)
    return words


def _line(rng, vocab, zipf, n_words, function_rate=0.3, markers=FUNCTION_WORDS):
    return " ".join(rng.choice(markers) if rng.random() < function_rate
                    else vocab[zipf.draw(rng)] for _ in range(n_words))


def _page_text(rng, vocab, zipf, n_lines=(6, 10), words=(12, 24)):
    return "\n".join(_line(rng, vocab, zipf, rng.randint(*words))
                     for _ in range(rng.randint(*n_lines)))


def md5_hex(text):
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _domain(i):
    return "site%d.%s" % (i, _TLDS[i % len(_TLDS)])


def curate_inputs(seed, plan):
    rng = _rng(seed, "curate")
    vocab = vocabulary(seed, plan["vocab"])
    zipf = Zipf(len(vocab), plan["zipf_s"])
    dom_zipf = Zipf(plan["n_domains"], 1.0)
    ev_rng = _rng(seed, "eval")
    evals = [" ".join(vocab[ev_rng.randrange(len(vocab))]
                      for _ in range(plan["eval_words"]))
             for _ in range(plan["n_eval"])]
    robots_host = "www." + _domain(3)
    kinds = [("short", plan["short_rate"]), ("german", plan["german_rate"]),
             ("repetitive", plan["repetitive_rate"]),
             ("exact_dup", plan["exact_dup_rate"]),
             ("near_dup", plan["near_dup_rate"]),
             ("contaminated", plan["contaminated_rate"])]
    n = plan["n_docs"]
    names = [k for k, _ in kinds] + ["base"]
    doc_kinds = [names[i] for i in quota(
        rng, [rate for _, rate in kinds] + [1.0 - sum(r for _, r in kinds)], n)]
    first_base = doc_kinds.index("base")  # duplicates need an earlier original
    doc_kinds[0], doc_kinds[first_base] = doc_kinds[first_base], doc_kinds[0]
    doc_domains = dom_zipf.quota(rng, n)
    docs, truth_kind, originals = [], {}, []
    for doc_id in range(1, n + 1):
        kind, dom_i = doc_kinds[doc_id - 1], doc_domains[doc_id - 1]
        host = ("www." if dom_i % 2 else "blog.") + _domain(dom_i)
        path = "/p/%d" % doc_id
        if "www." + _domain(dom_i) == robots_host and rng.random() < plan["private_rate"]:
            path = ("/private/open-%d" if rng.random() < 0.5 else "/private/%d") % doc_id
        url = "https://%s%s" % (host, path)
        source = None
        if kind == "base" or kind == "contaminated":
            text = _page_text(rng, vocab, zipf)
            if kind == "contaminated":
                lines = text.split("\n")
                lines.insert(rng.randrange(len(lines) + 1),
                             evals[rng.randrange(len(evals))])
                text = "\n".join(lines)
            else:
                originals.append(doc_id)
        elif kind == "short":
            text = _line(rng, vocab, zipf, rng.randint(10, 40))
        elif kind == "german":
            text = "\n".join(_line(rng, vocab, zipf, rng.randint(12, 24),
                                   markers=GERMAN_WORDS)
                             for _ in range(rng.randint(6, 10)))
        elif kind == "repetitive":
            one = _line(rng, vocab, zipf, rng.randint(12, 24))
            text = "\n".join([one] * rng.randint(5, 8) +
                             [_line(rng, vocab, zipf, 16) for _ in range(2)])
        else:
            source = originals[rng.randrange(len(originals))]
            text = docs[source - 1]["text"]
            if kind == "near_dup":
                toks = text.split(" ")
                for _ in range(2):
                    j = rng.randrange(len(toks))
                    head, sep, tail = toks[j].partition("\n")
                    toks[j] = vocab[rng.randrange(len(vocab))] + sep + tail
                text = " ".join(toks)
        docs.append({"doc_id": doc_id, "url": url, "text": text})
        truth_kind[doc_id] = (kind, _domain(dom_i), source)
    # compliance inputs: takedowns of base docs, two mid-rank blocked domains
    takedown = [md5_hex(docs[i - 1]["text"]) for i in originals
                if _rng(seed, "td%d" % i).random() < plan["takedown_rate"]]
    blocked = [_domain(7), _domain(11)]
    robots = [{"host": robots_host, "rule": "disallow", "prefix": "/private/"},
              {"host": robots_host, "rule": "allow", "prefix": "/private/open"}]
    truth = {"kind": {str(k): v[0] for k, v in truth_kind.items()},
             "domain": {str(k): v[1] for k, v in truth_kind.items()},
             "source": {str(k): v[2] for k, v in truth_kind.items()
                        if v[2] is not None}}
    return {"docs": docs, "eval": [{"eval_id": i, "text": t}
                                   for i, t in enumerate(evals)],
            "takedown": [{"h": h} for h in takedown],
            "blocked": [{"domain": d} for d in blocked],
            "robots": robots, "truth": truth}


def _date_string(rng, i):
    fmt = DATE_FORMATS[i % len(DATE_FORMATS)]
    month, day = rng.randint(1, 12), rng.randint(1, 28)
    hour, minute, sec = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
    ords = {1: "st", 2: "nd", 3: "rd", 21: "st", 22: "nd", 23: "rd"}
    bname = _MONTHS[month - 1][:3]
    return fmt.format(
        Y=2024, m="%02d" % month, d="%02d" % day, di=str(day),
        dd13="%02d" % rng.randint(13, 28), H="%02d" % hour, M="%02d" % minute,
        S="%02d" % sec, h=str(hour % 12 or 12), p="AM" if hour < 12 else "PM",
        b=bname, B=_MONTHS[month - 1], wd=_WEEKDAYS[rng.randrange(7)],
        ord="%d%s" % (day, ords.get(day, "th")),
        bdot=("Sept." if month == 9 else bname + "."))


def _article_html(rng, vocab, zipf, art_id):
    parts = ["<html><head>"]
    title = " ".join(vocab[zipf.draw(rng)] for _ in range(rng.randint(3, 7)))
    title_mode = art_id % 3
    if title_mode != 0:
        parts.append("<title>%s</title>" % title)
    carrier = DATE_CARRIERS[(art_id // 3) % len(DATE_CARRIERS)]
    date = _date_string(rng, art_id)
    if carrier == "meta_property":
        parts.append('<meta property="article:published_time" content="%s"/>' % date)
    elif carrier == "meta_pubdate":
        parts.append('<meta name="pubdate" content="%s">' % date)
    elif carrier == "meta_date":
        parts.append('<meta name="date" content="%s">' % date)
    parts.append("</head><body>")
    if title_mode == 1:
        parts.append("<h1>%s</h1>" % title)
    if carrier == "time_attr":
        parts.append('<time datetime="%s">published</time>' % date)
    elif carrier == "time_body":
        parts.append("<time>%s</time>" % date)
    for _ in range(rng.randint(3, 6)):
        parts.append("<p>%s</p>" % _line(rng, vocab, zipf, rng.randint(10, 30)))
    parts.append("</body></html>")
    return "".join(parts)


def _listing_html(style, blocks, source):
    out = ["<html><body><nav><a href=\"/\">home</a></nav>"]
    open_, close = {
        "article": ("<article>", "</article>"),
        "div.post": ('<div class="post">', "</div>"),
        "div.blog-post": ('<div class="blog-post featured">', "</div>"),
        "div.article": ('<div class="article">', "</div>"),
        "fallback": ('<div class="BlogEntry-card">', "</div>"),
    }[style]
    for href, label in blocks:
        out.append('%s<h2><a href="%s">%s</a></h2>%s' % (open_, href, label, close))
    # a block without a link: the cascade finds it, the href stage skips it
    out.append("%s<h2>sponsored</h2>%s" % (open_, close))
    out.append("</body></html>")
    return "".join(out)


def crawl_inputs(seed, plan):
    rng = _rng(seed, "crawl")
    vocab = vocabulary(seed, plan["vocab"])
    zipf = Zipf(len(vocab), plan["zipf_s"])
    sources = ["https://news%d.%s/" % (i, _TLDS[i % len(_TLDS)])
               for i in range(plan["n_sources"])]
    pages, listed, ticks, n_listed = [], [], [], []
    next_id = 0

    def new_article(src_i):
        nonlocal next_id
        next_id += 1
        url = "%sa/%d.html" % (sources[src_i], next_id)
        pages.append({"sources": url,
                      "html": _article_html(rng, vocab, zipf, next_id)})
        return url

    # tick 0 is the backlog set-up ingests; tick 1 is what every timed
    # operation ingests on top of it
    for tick in range(2):
        n_new = plan["backlog"] if tick == 0 else plan["new_per_tick"]
        per_src = [[] for _ in sources]
        fresh = []
        # these new articles are listed by a second source too
        crossed = set(rng.sample(range(n_new), int(round(n_new * plan["crosslist_share"]))))
        for i in range(n_new):
            s = rng.randrange(len(sources))
            url = new_article(s)
            fresh.append(url)
            per_src[s].append(url)
            if i in crossed:
                per_src[(s + 1) % len(sources)].append(url)
        if tick > 0:
            n_re = int(round(n_new * plan["relist_share"] / (1 - plan["relist_share"])))
            for _ in range(n_re):
                per_src[rng.randrange(len(sources))].append(
                    listed[rng.randrange(len(listed))])
        rows = []
        for s, urls in enumerate(per_src):
            if not urls:
                continue
            blocks = []
            for u in urls:
                # same-host links alternate relative and absolute hrefs
                rel = u[len(sources[s]) - 1:] if u.startswith(sources[s]) else None
                href = rel if rel is not None and rng.random() < 0.5 else u
                blocks.append((href, vocab[zipf.draw(rng)]))
            # the styles rotate per tick, so two ticks of four sources
            # cover all five selector-cascade branches
            style = LISTING_STYLES[(s + tick) % len(LISTING_STYLES)]
            rows.append({"source": sources[s],
                         "html": _listing_html(style, blocks, sources[s])})
        ticks.append(rows)
        listed.extend(fresh)
        n_listed.append(sum(len(u) for u in per_src))
    return {"pages": pages, "ticks": ticks,
            "truth": {"new_per_tick": [plan["backlog"], plan["new_per_tick"]],
                      "listed_per_tick": n_listed}}


def vector_inputs(seed, plan):
    rng = _rng(seed, "vectors")
    dim = plan["dim"]
    centers = [[rng.gauss(0.0, 1.0) for _ in range(dim)]
               for _ in range(plan["n_clusters"])]

    def near(c, spread):
        return [round(x + rng.gauss(0.0, spread), 6) for x in c]

    vecs = [{"vec_id": i, "embedding": near(centers[rng.randrange(len(centers))], 0.35)}
            for i in range(1, plan["n_vectors"] + 1)]
    probes = [{"vec_id": 10000000 + i,
               "embedding": near(centers[rng.randrange(len(centers))], 0.35)}
              for i in range(plan["n_probes"])]
    return vecs, probes


def graph_inputs(seed, plan):
    rng = _rng(seed, "graph")
    n_hosts = plan["n_hosts"]
    hosts = ["%s.host%d.%s" % (("www", "en", "m")[h % 3], h, _TLDS[h % len(_TLDS)])
             for h in range(n_hosts)]
    host_zipf = Zipf(n_hosts, plan["zipf_s"])
    # every host gets one page, the rest land on hosts in Zipf shares
    page_host = list(range(n_hosts)) + host_zipf.quota(rng, plan["n_pages"] - n_hosts)
    pages_by_host = [[] for _ in range(n_hosts)]
    for i, h in enumerate(page_host):
        pages_by_host[h].append(i)
    n_links = [rng.randint(plan["min_links"], plan["max_links"]) for _ in page_host]
    # link targets: hosts in Zipf shares of all links
    targets = host_zipf.quota(rng, sum(n_links))
    pages, edges = [], {}
    for i, h in enumerate(page_host):
        url = "https://%s/page/%d.html" % (hosts[h], i)
        anchors = []
        for j in range(n_links[i]):
            d = targets.pop()
            while d == h:  # every absolute link leaves its host
                d = rng.randrange(n_hosts)
            tgt = pages_by_host[d][rng.randrange(len(pages_by_host[d]))]
            anchors.append('<a href="https://%s/page/%d.html">%s</a>'
                           % (hosts[d], tgt, "link %d" % j))
            key = "%d>%d" % (h, d)
            edges[key] = edges.get(key, 0) + 1
        # same-host navigation (relative): a self-loop the host graph drops
        anchors.append('<a href="/page/%d.html">next</a>'
                       % pages_by_host[h][rng.randrange(len(pages_by_host[h]))])
        pages.append({"doc_id": i + 1, "url": url,
                      "html": "<html><body><p>%s</p></body></html>" % " ".join(anchors)})
    return {"pages": pages,
            "truth": {"n_domains": n_hosts, "n_edges": len(edges),
                      "n_links": sum(edges.values())}}


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":"), sort_keys=True))
            f.write("\n")


def write(workload, seed, out_dir):
    """Generates the inputs of `workload` for `seed` into `out_dir`."""
    plan = PLANS[workload]
    os.makedirs(out_dir, exist_ok=True)
    if workload == "curate_release":
        data = curate_inputs(seed, plan)
        for name in ("docs", "eval", "takedown", "blocked", "robots"):
            _write_jsonl(os.path.join(out_dir, name + ".jsonl"), data[name])
        truth = data["truth"]
    elif workload == "crawl_serve":
        data = crawl_inputs(seed, plan)
        ldir = os.path.join(out_dir, "listings")
        os.makedirs(ldir, exist_ok=True)
        for t, rows in enumerate(data["ticks"]):
            _write_jsonl(os.path.join(ldir, "tick_%04d.jsonl" % t), rows)
        _write_jsonl(os.path.join(out_dir, "pages.jsonl"), data["pages"])
        vecs, probes = vector_inputs(seed, plan)
        _write_jsonl(os.path.join(out_dir, "vectors.jsonl"), vecs)
        _write_jsonl(os.path.join(out_dir, "probes.jsonl"), probes)
        truth = data["truth"]
    elif workload == "link_rank":
        data = graph_inputs(seed, plan)
        _write_jsonl(os.path.join(out_dir, "pages.jsonl"), data["pages"])
        truth = data["truth"]
    else:
        raise ValueError("unknown workload %r" % workload)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f, sort_keys=True)


def size_key(workload):
    """The cache key's size part: a digest of the workload's plan and of this
    generator, so a changed generator never reads a stale cache."""
    h = hashlib.sha1(json.dumps(PLANS[workload], sort_keys=True).encode())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:10]


def ensure(workload, seed, cache_root):
    """Cached inputs for (workload, size, seed); generates them if absent."""
    out = os.path.join(cache_root, "%s-%s-%d" % (workload, size_key(workload), seed))
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        tmp = out + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        write(workload, seed, tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def digest(path):
    """sha1 over every generated file under `path`, in name order."""
    h = hashlib.sha1()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.startswith("."):
                continue
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
