"""OPIC crawl priority, snapshot edge deltas, alias-chain resolution,
inverted index."""

import pytest

from conftest import graph_from_edges
from linkgraph.operators.crawl import edge_delta, opic, resolve_aliases
from linkgraph.operators.terms import build_inverted_index


def _opic_replica(edges, rounds):
    """Pure-Python synchronous OPIC with the uniform dangling route."""
    verts = sorted({u for u, v in edges} | {v for u, v in edges})
    n = len(verts)
    out = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    cash = {v: 1.0 / n for v in verts}
    hist = {v: 0.0 for v in verts}
    for _ in range(rounds):
        dm = sum(c for v, c in cash.items() if v not in out)
        nxt = {v: dm / n for v in verts}
        for u, targets in out.items():
            for t in targets:
                nxt[t] += cash[u] / len(targets)
        for v in verts:
            hist[v] += cash[v]
        cash = nxt
    return cash, hist


def test_opic_matches_replica_and_conserves_cash(spark):
    # 5 has no out-links: the dangling (virtual-page) route is live
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (4, 5), (2, 5)]
    g = graph_from_edges(spark, edges)
    rounds = 4
    got = {r.id: r for r in opic(g, rounds=rounds).collect()}
    cash, hist = _opic_replica(edges, rounds)
    assert set(got) == set(cash)
    for v in cash:
        assert got[v].cash == pytest.approx(cash[v], abs=1e-12)
        assert got[v].history == pytest.approx(hist[v], abs=1e-12)
        assert got[v].priority == pytest.approx(
            (hist[v] + cash[v]) / (rounds + 1), abs=1e-12
        )
    assert sum(r.cash for r in got.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(r.history for r in got.values()) == pytest.approx(rounds, abs=1e-9)
    assert sum(r.priority for r in got.values()) == pytest.approx(1.0, abs=1e-9)


def test_opic_priority_approaches_undamped_stationary(spark):
    # on a strongly connected graph OPIC's estimate converges to the
    # undamped random-walk stationary distribution: for a directed
    # 3-cycle that is uniform
    g = graph_from_edges(spark, [(1, 2), (2, 3), (3, 1)])
    rows = opic(g, rounds=30).collect()
    for r in rows:
        assert r.priority == pytest.approx(1.0 / 3, abs=1e-6)


def test_opic_rejects_bad_rounds(spark):
    g = graph_from_edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        opic(g, rounds=0)


def test_edge_delta_classification(spark):
    old = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 2.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    new = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 5.0), (3, 4, 1.0)], "src long, dst long, weight double"
    )
    got = {(r.src, r.dst): r.status for r in edge_delta(old, new).collect()}
    assert got == {
        (1, 2): "kept",
        (1, 3): "changed",
        (2, 3): "removed",
        (3, 4): "added",
    }


def test_resolve_aliases_chains_and_cycles(spark):
    # chain 1→2→…→10 (10 terminal), feeder 19→20 into cycle 20↔21
    rows = [(i, i + 1) for i in range(1, 10)] + [(19, 20), (20, 21), (21, 20)]
    al = spark.createDataFrame(rows, "src long, dst long")
    got = {r.id: r for r in resolve_aliases(al).collect()}
    assert len(got) == 12
    for i in range(1, 10):
        assert got[i].status == "resolved"
        assert got[i].target == 10
        assert got[i].hops == 10 - i
    for v in (19, 20, 21):
        assert got[v].status == "cycle"
        assert got[v].target is None and got[v].hops is None


def test_resolve_aliases_long_chain_log_rounds(spark):
    # a 200-link chain resolves with doubling (≈8 rounds), hops exact
    al = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    got = {r.id: r for r in resolve_aliases(al).collect()}
    assert got[0].target == 200 and got[0].hops == 200
    assert got[150].target == 200 and got[150].hops == 50
    assert all(r.status == "resolved" for r in got.values())


def test_resolve_aliases_rejects_nonfunctional(spark):
    al = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    with pytest.raises(ValueError):
        resolve_aliases(al)


def test_politeness_schedule_equals_single_window_rank(spark):
    import random

    from linkgraph.operators.crawl import politeness_schedule

    rng = random.Random(7)
    rows = [
        (f"h{rng.randrange(5)}", i, float(rng.randrange(20)))  # many priority ties
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "host string, url long, priority double")
    got = {
        (r.host, r.id): r.fetch_rank
        for r in politeness_schedule(df, id_col="url", n_buckets=8).collect()
    }
    # pure-Python single-scan oracle: rank by (priority desc, id asc)
    by_host: dict = {}
    for h, i, p in rows:
        by_host.setdefault(h, []).append((i, p))
    want = {}
    for h, items in by_host.items():
        for rank, (i, _) in enumerate(
            sorted(items, key=lambda t: (-t[1], t[0])), start=1
        ):
            want[(h, i)] = rank
    assert got == want
    # politeness wave 1 = exactly one url per host
    wave1 = [k for k, v in got.items() if v == 1]
    assert len(wave1) == len(by_host)


def test_inverted_index_exact_and_truncated(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark graph spark"),
            (2, "graph engine"),
            (3, "spark engine engine"),
            (4, "a graph"),  # "a" dropped by min_term_len
        ],
        "doc_id long, text string",
    )
    rows = {
        r.term: r
        for r in build_inverted_index(docs, min_df=1, max_postings=2).collect()
    }
    assert rows["spark"].df == 2 and rows["spark"].cf == 3
    assert rows["spark"].postings == "1,3"
    assert rows["graph"].df == 3 and rows["graph"].cf == 3
    # truncation keeps the SMALLEST doc ids
    assert rows["graph"].postings == "1,2"
    assert rows["engine"].df == 2 and rows["engine"].cf == 3
    assert "a" not in rows
    # min_df filters
    only = build_inverted_index(docs, min_df=3, max_postings=2).collect()
    assert {r.term for r in only} == {"graph"}
    with pytest.raises(ValueError):
        build_inverted_index(docs, max_postings=0)


def test_opic_resume_rejects_shrunk_rounds(spark, tmp_path):
    """Resuming with rounds < the checkpointed round must fail loudly:
    the checkpointed history already accumulates MORE rounds than the
    caller's rounds+1 denominator would claim, so a silent resume
    would emit priorities summing > 1 (the invariant opic's docstring
    promises)."""
    from linkgraph.operators.crawl import opic

    g = graph_from_edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3)])
    d = str(tmp_path / "opic_shrink")
    opic(g, rounds=4, checkpoint_dir=d, checkpoint_every=1)
    with pytest.raises(ValueError, match="exceeds rounds=2"):
        opic(g, rounds=2, checkpoint_dir=d, checkpoint_every=1)
    # equal rounds is a valid no-op resume and keeps the invariant
    rows = opic(g, rounds=4, checkpoint_dir=d, checkpoint_every=1).collect()
    assert sum(r.priority for r in rows) == pytest.approx(1.0, abs=1e-9)


def test_politeness_schedule_null_priority_sorts_last(spark):
    """NULL priorities must land AFTER every scored url of their host
    (the row_number() ... ORDER BY p DESC NULLS LAST contract), not in
    the first bucket."""
    from linkgraph.operators.crawl import politeness_schedule

    rows = [
        ("h0", 1, 5.0),
        ("h0", 2, None),
        ("h0", 3, 7.0),
        ("h0", 4, None),
        ("h0", 5, 0.0),
        ("h1", 6, None),
        ("h1", 7, -3.0),
    ]
    df = spark.createDataFrame(rows, "host string, url long, priority double")
    got = {
        (r.host, r.id): r.fetch_rank
        for r in politeness_schedule(df, id_col="url", n_buckets=4).collect()
    }
    # oracle: priority desc NULLS LAST, ties (incl. NULL-NULL) by id asc
    want = {}
    by_host: dict = {}
    for h, i, p in rows:
        by_host.setdefault(h, []).append((i, p))
    for h, items in by_host.items():
        key = lambda t: (t[1] is None, -(t[1] if t[1] is not None else 0.0), t[0])
        for rank, (i, _) in enumerate(sorted(items, key=key), start=1):
            want[(h, i)] = rank
    assert got == want


# --- robots.txt (RFC 9309) ---------------------------------------------------

import re as _re

from linkgraph.operators.crawl import robots_allowed, robots_rules


def _robots_replica(body, agent):
    """Pinned pure-Python RFC 9309 evaluator: returns effective
    (rule, path) list for ``agent`` (longest-match evaluation done by
    the caller)."""
    groups, cur_agents, cur_rules, in_agents = [], [], [], False
    for raw in _re.split(r"\r?\n", body):
        line = raw.split("#", 1)[0]
        if ":" not in line:
            continue
        key, val = line.split(":", 1)
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agents:
                if cur_agents:
                    groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules, in_agents = [], [], True
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_agents = False
            if val:
                cur_rules.append((key, val))
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    named = [g for g in groups if agent.lower() in g[0]]
    use = named if named else [g for g in groups if "*" in g[0]]
    return [r for g in use for r in g[1]]


def _match_replica(rules, path):
    """RFC precedence: longest matching rule, allow wins ties."""
    best = None
    for rule, rpath in rules:
        anchored = rpath.endswith("$")
        body = rpath[:-1] if anchored else rpath
        pat = "^" + ".*".join(_re.escape(p) for p in body.split("*"))
        if anchored:
            pat += "$"
        if _re.search(pat, path):
            key = (len(rpath), rule == "allow")
            if best is None or key > best[0]:
                best = (key, rule == "allow", rpath)
    if best is None:
        return True, None
    return best[1], best[2]


ROBOTS_FIXTURE = [
    ("a.com", "User-agent: *\nDisallow: /private\nAllow: /private/pub\n"),
    # specific-agent group overrides the * group entirely
    ("b.com", "User-agent: linkbot\nDisallow: /tmp*\nUser-agent: *\nDisallow: /\n"),
    # $ anchor vs prefix at different specificity; other-agent group ignored
    ("c.com", "# c\nUser-agent: *\nAllow: /a$\nDisallow: /a\nUser-agent: other\nDisallow: /x\n"),
    # empty Disallow = allow-all (rule dropped)
    ("d.com", "User-agent: *\nDisallow:\n"),
    # stacked user-agent lines share one group; comments mid-line
    ("e.com", "User-agent: other\nUser-agent: *\nDisallow: /x # nope\nAllow: /x/ok\n"),
    # regex specials in paths must be escaped, * is the only wildcard
    ("f.com", "User-agent: *\nDisallow: /a.b\nDisallow: /c(d)/*e$\n"),
]

URLS_FIXTURE = [
    ("a.com", "/private/pub/x"), ("a.com", "/private/y"), ("a.com", "/open"),
    ("b.com", "/tmp/z"), ("b.com", "/anything"),
    ("c.com", "/a"), ("c.com", "/ab"), ("c.com", "/x"),
    ("d.com", "/q"),
    ("e.com", "/x/ok/1"), ("e.com", "/x/no"),
    ("f.com", "/a.b/z"), ("f.com", "/aXb"), ("f.com", "/c(d)/qqe"), ("f.com", "/c(d)/qqef"),
    ("nobots.com", "/free"),
]


def test_robots_rules_and_allowed_match_rfc_replica(spark):
    robots = spark.createDataFrame(ROBOTS_FIXTURE, "host string, body string")
    urls = spark.createDataFrame(URLS_FIXTURE, "host string, path string")
    rules = robots_rules(robots, agent="linkbot")
    got = {
        (r.host, r.path): (r.allowed, r.rule_path)
        for r in robots_allowed(urls, rules).collect()
    }
    bodies = dict(ROBOTS_FIXTURE)
    assert set(got) == set(URLS_FIXTURE)
    for host, path in URLS_FIXTURE:
        eff = _robots_replica(bodies[host], "linkbot") if host in bodies else []
        want = _match_replica(eff, path)
        assert got[(host, path)] == want, (host, path, got[(host, path)], want)


def test_robots_rules_table_shape(spark):
    robots = spark.createDataFrame(ROBOTS_FIXTURE, "host string, body string")
    rows = robots_rules(robots, agent="linkbot").collect()
    # b.com keeps ONLY the named group's rule; d.com contributes none
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, set()).add((r.rule, r.path, r.specificity))
    assert by_host["b.com"] == {("disallow", "/tmp*", 5)}
    assert "d.com" not in by_host
    assert ("allow", "/a$", 3) in by_host["c.com"]
    # patterns are anchored and escaped
    pats = {r.path: r.pattern for r in rows}
    assert pats["/a.b"] == "^/a\\.b"
    assert pats["/c(d)/*e$"] == "^/c\\(d\\)/.*e$"


# --- change-rate estimation + freshness scheduling ---------------------------


def test_change_rates_matches_closed_form(spark):
    import math

    from linkgraph.operators.crawl import change_rates

    # url 1: 5 accesses 100s apart, 2 changes; url 2: every access
    # changed (estimator stays finite); url 3: single access → NULLs
    rows = (
        [(1, 1000.0 + 100 * i, i in (1, 3)) for i in range(5)]
        + [(2, 2000.0 + 50 * i, True) for i in range(4)]
        + [(3, 9000.0, True)]
    )
    obs = spark.createDataFrame(rows, "url long, ts double, changed boolean")
    got = {r.url: r for r in change_rates(obs).collect()}
    r1 = -math.log((5 - 2 + 0.5) / 5.5)
    assert got[1].n == 5 and got[1].x == 2
    assert abs(got[1].interval_s - 100.0) < 1e-9
    assert abs(got[1].lambda_hat - r1 / 100.0) < 1e-12
    r2 = -math.log(0.5 / 4.5)
    assert abs(got[2].lambda_hat - r2 / 50.0) < 1e-12
    assert got[3].interval_s is None and got[3].lambda_hat is None


def test_freshness_schedule_policies(spark):
    import math

    from linkgraph.operators.crawl import change_rates, freshness_schedule

    rows = [(1, 100.0 * i, i % 2 == 1) for i in range(10)] + [
        (2, 1000.0 * i, i in (3,)) for i in range(10)
    ]
    obs = spark.createDataFrame(rows, "url long, ts double, changed boolean")
    rates = change_rates(obs)
    lam = {r.url: r.lambda_hat for r in rates.collect()}

    uni = {r.url: r for r in freshness_schedule(rates, 4.0, "uniform").collect()}
    # 2 urls, 4 fetches/day → every 0.5 day each
    assert abs(uni[1].revisit_every_s - 43200.0) < 1e-6
    for u in (1, 2):
        ld = lam[u] * uni[u].revisit_every_s
        assert abs(uni[u].expected_freshness - (1 - math.exp(-ld)) / ld) < 1e-12

    prop = {
        r.url: r for r in freshness_schedule(rates, 4.0, "proportional").collect()
    }
    tot = lam[1] + lam[2]
    for u in (1, 2):
        freq = 4.0 * lam[u] / tot
        assert abs(prop[u].revisit_every_s - 86400.0 / freq) < 1e-6

    # the paper's headline: uniform total freshness >= proportional
    assert (
        uni[1].expected_freshness + uni[2].expected_freshness
        >= prop[1].expected_freshness + prop[2].expected_freshness
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="policy"):
        freshness_schedule(rates, 4.0, "optimal")
    with _pytest.raises(ValueError, match="budget"):
        freshness_schedule(rates, 0.0)


# --- Bloom URL-seen prefilter ------------------------------------------------


def test_url_seen_filter_exact_vs_anti_join(spark):
    """The two-phase bloom path returns EXACTLY the anti-join answer
    (no false negatives by construction), and maybe_seen has no
    false negatives either: every true dup is flagged maybe."""
    from linkgraph.operators.crawl import url_seen_filter

    seen = spark.createDataFrame(
        [(f"http://h{i % 7}.test/p{i}",) for i in range(400)], "url string"
    )
    frontier = spark.createDataFrame(
        [(f"http://h{i % 7}.test/p{i}",) for i in range(300, 700)]
        + [(f"http://new{i}.test/x",) for i in range(50)],
        "url string",
    )
    out = url_seen_filter(seen, frontier, shards=8, m_bits=1 << 12, k=4).collect()
    assert len(out) == frontier.count()
    seen_set = {r["url"] for r in seen.collect()}
    for r in out:
        assert r["is_new"] == (r["url"] not in seen_set)
        if r["url"] in seen_set:
            assert r["maybe_seen"]  # no false negatives, ever


def test_url_bloom_false_positive_rate_sane(spark):
    """With n/shards ≈ 50 urls per shard and m=4096, k=4 the FP rate
    is ≈ (1-e^(-kn/m))^k ≈ 3e-5 — probe 500 fresh urls and allow a
    generous margin."""
    from linkgraph.operators.crawl import bloom_might_contain, url_bloom

    seen = spark.createDataFrame(
        [(f"http://seen.test/{i}",) for i in range(400)], "url string"
    )
    fresh = spark.createDataFrame(
        [(f"http://fresh.test/{i}",) for i in range(500)], "url string"
    )
    bloom = url_bloom(seen, shards=8, m_bits=1 << 12, k=4)
    probed = bloom_might_contain(fresh, bloom, m_bits=1 << 12, k=4, shards=8)
    fp = probed.filter("maybe_seen").count()
    assert fp <= 5


# --- sitemap parsing ------------------------------------------------------


def test_sitemap_entries_parse(spark):
    from linkgraph.operators.crawl import sitemap_entries

    xml1 = (
        "<?xml version='1.0'?><urlset>"
        "<url><loc> https://a.test/ </loc><lastmod>2024-03-05</lastmod>"
        "<changefreq>daily</changefreq><priority>0.8</priority></url>"
        "<url><loc>https://a.test/p?x=1&amp;y=2</loc></url>"
        "<url><lastmod>2024-01-01</lastmod></url>"  # no loc: dropped
        "<url><loc>https://a.test/bad</loc><lastmod>soon</lastmod>"
        "<priority>high</priority></url>"
        "</urlset>"
    )
    xml2 = (
        "<sitemapindex>"
        "<sitemap><loc>https://b.test/sitemap1.xml</loc>"
        "<lastmod>2024-02-10T18:00:00+00:00</lastmod></sitemap>\n"
        "<sitemap>\n<loc>https://b.test/sitemap2.xml</loc>\n</sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("a.test", xml1), ("b.test", xml2)], "host string, xml string"
    )
    rows = {
        (r["host"], r["url"]): r
        for r in sitemap_entries(df).collect()
    }
    assert len(rows) == 5
    r1 = rows[("a.test", "https://a.test/")]
    assert not r1["is_index"]
    assert r1["changefreq"] == "daily" and abs(r1["priority"] - 0.8) < 1e-12
    assert str(r1["lastmod_date"]) == "2024-03-05"
    r2 = rows[("a.test", "https://a.test/p?x=1&amp;y=2")]
    assert r2["lastmod"] is None and r2["priority"] is None
    rbad = rows[("a.test", "https://a.test/bad")]
    assert rbad["lastmod_date"] is None and rbad["priority"] is None
    assert rbad["lastmod"] == "soon"
    ri = rows[("b.test", "https://b.test/sitemap1.xml")]
    assert ri["is_index"] and ri["lastmod"].startswith("2024-02-10T")
    assert str(ri["lastmod_date"]) == "2024-02-10"
    assert rows[("b.test", "https://b.test/sitemap2.xml")]["is_index"]


def test_sitemap_entries_empty_and_no_matches(spark):
    from linkgraph.operators.crawl import sitemap_entries

    df = spark.createDataFrame(
        [("h.test", "<html>not a sitemap</html>"), ("i.test", "")],
        "host string, xml string",
    )
    assert sitemap_entries(df).count() == 0


def test_opic_broadcast_plan_matches_shuffle(spark):
    """OPIC's broadcast cash-gather plan (the default at this V)
    equals the shuffle plan forced through the broadcast threshold
    exactly (same rounds, same priorities)."""
    import random

    from conftest import collect_map, graph_from_edges, shuffle_plan
    from linkgraph.operators.crawl import opic

    rng = random.Random(23)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]
    g = graph_from_edges(spark, edges, directed=True)
    with shuffle_plan(spark):
        a = collect_map(opic(g, rounds=4), "id", "priority")
    b = collect_map(opic(g, rounds=4), "id", "priority")
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12
