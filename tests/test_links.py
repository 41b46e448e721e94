"""Outlink kernel: href resolution semantics + the distributed edge list."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_platform_spark.kernels.links import extract_links, resolve_href

SRC = "https://site-01.example.org/a/b/page.html?x=1"


def test_resolve_href_semantics():
    assert resolve_href(SRC, "https://other.org/p") == "https://other.org/p"
    assert resolve_href(SRC, "http://other.org/p#frag") == "http://other.org/p"
    assert resolve_href(SRC, "//cdn.org/lib.js") == "https://cdn.org/lib.js"
    assert resolve_href(SRC, "/root/x") == "https://site-01.example.org/root/x"
    assert resolve_href(SRC, "rel/y") == "https://site-01.example.org/a/b/rel/y"
    assert resolve_href(SRC, "#frag") is None
    assert resolve_href(SRC, "mailto:a@b.c") is None
    assert resolve_href(SRC, "javascript:void(0)") is None
    assert resolve_href(SRC, "") is None
    # fragments dropped on EVERY branch, incl. protocol-relative and
    # path-relative (same target must never yield fragment-distinct edges)
    assert resolve_href(SRC, "//cdn.org/lib.js#sect") == "https://cdn.org/lib.js"
    assert resolve_href(SRC, "rel/y#top") == "https://site-01.example.org/a/b/rel/y"
    assert resolve_href(SRC, "/root/x#mid") == "https://site-01.example.org/root/x"


def test_extract_links_attribute_forms():
    html = (
        '<html><body><a href="/one">1</a>'
        "<a class='x' href='/two'>2</a>"
        "<a href=/three>3</a>"
        '<a name="anchor-only">no href</a>'
        '<a href="https://ext.org/p?q=2#s">ext</a></body></html>'
    ).encode()
    got = extract_links("https://h.org/dir/page", html)
    assert got == [
        "https://h.org/one",
        "https://h.org/two",
        "https://h.org/three",
        "https://ext.org/p?q=2",
    ]


def test_extract_links_attribute_edge_cases():
    html = (
        # data-href must NOT produce an edge (no word-boundary leak)
        '<html><body><a data-href="/fake">no</a>'
        # a quoted '>' in an earlier attribute must not hide the real href
        '<a title="x > y" href="/real">yes</a>'
        # data-href together with a real href: only the real one
        '<a data-href="/fake2" href="/real2">yes</a></body></html>'
    ).encode()
    got = extract_links("https://h.org/", html)
    assert got == ["https://h.org/real", "https://h.org/real2"]


def test_outlink_edges_distributed(spark):
    from ocr_platform_spark.operators.linkgraph import (
        extract_outlinks,
        host_degree_stats,
        host_edges,
    )

    rows = [
        (
            "https://a.org/p1",
            None,
            b'<html><body><a href="/x">x</a><a href="https://b.org/y">y</a></body></html>',
            None,
            "en",
        ),
        (
            "https://b.org/p2",
            None,
            b'<html><body><a href="https://a.org/z">z</a></body></html>',
            None,
            "en",
        ),
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    edges = host_edges(extract_outlinks(docs))
    got = sorted(tuple(r) for r in edges.collect())
    assert got == [("a.org", "a.org"), ("a.org", "b.org"), ("b.org", "a.org")]
    deg = {r["src_host"]: (r["n_links"], r["n_dst_hosts"]) for r in host_degree_stats(edges).collect()}
    assert deg == {"a.org": (2, 2), "b.org": (1, 1)}
    # kernel path stays Arrow-batched (no per-row Python eval)
    plan = extract_outlinks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_host_pagerank_integer_recurrence(spark):
    """Ranks match the hand-computed integer recurrence on a known graph;
    higher in-link mass ranks higher; deterministic across runs."""
    from ocr_platform_spark.operators.linkgraph import host_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src_host string, dst_host string",
    )
    got = [(r["host"], r["rank"]) for r in host_pagerank(edges).collect()]
    # reference values from the pure-python recurrence (10 iter, 85%, 1e9)
    assert got == [
        ("c", 392508555),
        ("a", 375054379),
        ("b", 194937056),
        ("d", 37500000),
    ]
    got2 = [(r["host"], r["rank"]) for r in host_pagerank(edges).collect()]
    assert got == got2


def test_host_pagerank_early_exit_and_table_checkpoints(spark, tmp_path):
    """Early exit stops once the L1 rank delta is under the threshold and
    reports the iteration metric; per-iteration parquet checkpoints produce
    bit-identical ranks to localCheckpoint."""
    from ocr_platform_spark.operators.linkgraph import host_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src_host string, dst_host string",
    )
    base = [(r["host"], r["rank"]) for r in host_pagerank(edges).collect()]

    # parquet-checkpoint variant: identical ranks
    via_table = [
        (r["host"], r["rank"])
        for r in host_pagerank(edges, checkpoint_dir=str(tmp_path / "pr")).collect()
    ]
    assert via_table == base

    # fixed-iteration metric
    m: dict = {}
    host_pagerank(edges, iterations=4, metrics_out=m).collect()
    assert m == {"iterations_run": 4, "converged": False}

    # early exit: a huge threshold stops after the first delta check
    m2: dict = {}
    got = host_pagerank(
        edges, iterations=10, convergence_delta=10**9, metrics_out=m2
    )
    got.collect()
    assert m2["converged"] and m2["iterations_run"] == 1

    # tight threshold: converges before 50 iterations on this graph, and
    # the converged ranks match a fixed run of the same length
    m3: dict = {}
    conv = [
        (r["host"], r["rank"])
        for r in host_pagerank(
            edges, iterations=50, convergence_delta=10, metrics_out=m3
        ).collect()
    ]
    assert m3["converged"] and 1 < m3["iterations_run"] < 50
    fixed = [
        (r["host"], r["rank"])
        for r in host_pagerank(edges, iterations=m3["iterations_run"]).collect()
    ]
    assert conv == fixed


# --- connected components -------------------------------------------------


def _union_find_components(pairs):
    """Reference: plain union-find over the pair list (min id as root)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    import random

    from ocr_platform_spark.operators.linkgraph import connected_components

    rnd = random.Random(7)
    # forest of chains/triangles/sing-pairs, the near-dup graph shape
    pairs = set()
    for base in range(0, 400, 10):
        nodes = [base + i for i in range(rnd.randint(2, 5))]
        for a, b in zip(nodes, nodes[1:]):  # chain
            pairs.add((a, b))
        if rnd.random() < 0.3 and len(nodes) >= 3:  # extra chord
            pairs.add((nodes[0], nodes[-1]))
    pairs = sorted(pairs)
    expected = _union_find_components(pairs)

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(df, iterations=6).collect()
    }
    assert got == expected


def test_connected_components_early_exit_and_checkpoint_dir(spark, tmp_path):
    from ocr_platform_spark.operators.linkgraph import connected_components

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    base = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert base == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    m = {}
    ee = {
        r["id"]: r["comp"]
        for r in connected_components(
            df, iterations=10, early_exit=True, metrics_out=m
        ).collect()
    }
    assert ee == base
    assert m["converged"] and m["iterations_run"] < 10

    ck = {
        r["id"]: r["comp"]
        for r in connected_components(
            df, checkpoint_dir=str(tmp_path / "cc")
        ).collect()
    }
    assert ck == base


def test_extract_links_with_anchors_kernel():
    from ocr_platform_spark.kernels.links import extract_links_with_anchors

    html = (
        b'<html><body>'
        b'<a href="/a">Plain text</a>'
        b'<a title="x > y" href="/b"><b>Bold</b> and <i>nested</i></a>'
        b'<a href="/c">spread\n  over   lines</a>'
        b'<a href="#frag">skipped fragment link</a>'
        b'<a href="/d" data-x="v">'  # no closing </a> (truncated page)
        b"</body></html>"
    )
    got = extract_links_with_anchors("https://h.test/p/q", html)
    by_url = {u: a for u, a in got}
    assert by_url["https://h.test/a"] == "Plain text"
    # quoted '>' before href doesn't end the scan; inner tags stripped
    assert by_url["https://h.test/b"] == "Bold and nested"
    assert by_url["https://h.test/c"] == "spread over lines"
    assert "https://h.test/p/q" not in by_url  # fragment link dropped
    # unterminated anchor: link kept, anchor empty (not rest-of-document)
    assert by_url["https://h.test/d"] == ""
    # parity: same URLs in the same order as the anchor-less kernel
    from ocr_platform_spark.kernels.links import extract_links

    assert [u for u, _a in got] == extract_links("https://h.test/p/q", html)


def test_extract_outlink_anchors_operator(spark):
    import datetime as dt

    from ocr_platform_spark.operators.linkgraph import extract_outlink_anchors

    html = b'<html><body><a href="https://t.test/x">Click here</a></body></html>'
    docs = spark.createDataFrame(
        [("https://s.test/", dt.datetime(2025, 1, 1), html, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    rows = extract_outlink_anchors(docs).collect()
    assert [(r["src_url"], r["dst_url"], r["anchor"]) for r in rows] == [
        ("https://s.test/", "https://t.test/x", "Click here")
    ]


def test_host_hits_star_graph_and_determinism(spark, tmp_path):
    from ocr_platform_spark.operators.linkgraph import host_hits

    # star: a->c, b->c (twice - multiplicity kept)
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("b", "c")], "src_host string, dst_host string"
    )
    rows = {r["host"]: (r["hub"], r["authority"]) for r in host_hits(edges, iterations=3, scale=9000).collect()}
    # c is the only authority; a and b are the only hubs (b counted twice)
    assert rows["c"][1] > 0 and rows["c"][0] == 0
    assert rows["a"][1] == 0 and rows["b"][1] == 0
    assert rows["b"][0] > rows["a"][0] > 0  # multiplicity weights b higher

    # deterministic across runs, partitionings, and checkpoint backends
    again = {r["host"]: (r["hub"], r["authority"]) for r in host_hits(edges.repartition(7), iterations=3, scale=9000).collect()}
    assert again == rows
    durable = {
        r["host"]: (r["hub"], r["authority"])
        for r in host_hits(
            edges, iterations=3, scale=9000, checkpoint_dir=str(tmp_path / "hits")
        ).collect()
    }
    assert durable == rows


def test_host_hits_empty_graph(spark):
    from ocr_platform_spark.operators.linkgraph import host_hits

    edges = spark.createDataFrame([], "src_host string, dst_host string")
    assert host_hits(edges, iterations=2).collect() == []


def test_host_trustrank_seeded_flow(spark, tmp_path):
    from ocr_platform_spark.operators.linkgraph import host_pagerank, host_trustrank

    # seed -> a -> b chain plus an isolated spam pair untouched by seeds
    edges = spark.createDataFrame(
        [("seed", "a"), ("a", "b"), ("spam1", "spam2"), ("spam2", "spam1")],
        "src_host string, dst_host string",
    )
    seeds = spark.createDataFrame([("seed",)], "host string")
    got = {r["host"]: r["rank"] for r in host_trustrank(edges, seeds, iterations=6).collect()}
    assert got["a"] > 0 and got["b"] > 0          # trust flows along links
    assert got["spam1"] == got["spam2"] == 0      # unreachable from seeds
    assert got["seed"] > got["a"] > got["b"]      # decays with distance

    # with every host seeded the recurrence IS plain PageRank — bit-equal
    hosts = spark.createDataFrame(
        [("seed",), ("a",), ("b",), ("spam1",), ("spam2",)], "host string"
    )
    tr_all = {r["host"]: r["rank"] for r in host_trustrank(edges, hosts, iterations=6).collect()}
    pr = {r["host"]: r["rank"] for r in host_pagerank(edges, iterations=6).collect()}
    assert tr_all == pr

    # unknown seeds ignored; empty effective seed set -> all-zero ranks
    ghost = spark.createDataFrame([("nothere",)], "host string")
    z = {r["rank"] for r in host_trustrank(edges, ghost, iterations=3).collect()}
    assert z == {0}

    # durable-checkpoint backend bit-equal to localCheckpoint
    durable = {
        r["host"]: r["rank"]
        for r in host_trustrank(
            edges, seeds, iterations=6, checkpoint_dir=str(tmp_path / "tr")
        ).collect()
    }
    assert durable == got


def test_feed_link_extraction():
    """Feed payloads contribute <link> targets: RSS element text, Atom
    href attributes; self-closing no-href links skipped; both link
    functions agree on the edge set."""
    from ocr_platform_spark.kernels.links import (
        extract_links,
        extract_links_with_anchors,
    )

    rss = (
        b'<?xml version="1.0"?>\n<rss version="2.0"><channel>'
        b"<title>T</title><link>https://site.test/home</link>"
        b"<item><title>a</title><link>/posts/1</link></item>"
        b"<item><title>b</title><link>https://other.test/x#frag</link></item>"
        b"</channel></rss>"
    )
    got = extract_links("https://site.test/feed.xml", rss)
    assert got == [
        "https://site.test/home",
        "https://site.test/posts/1",
        "https://other.test/x",  # fragment dropped, cross-host kept
    ]
    anchored = extract_links_with_anchors("https://site.test/feed.xml", rss)
    assert anchored == [(u, "") for u in got]

    atom = (
        b'<feed xmlns="http://www.w3.org/2005/Atom"><title>t</title>'
        b'<link rel="self" href="https://site.test/atom"/>'
        b'<entry><title>e</title><link href="https://site.test/e/1"/></entry>'
        b'<entry><title>f</title><link rel="alternate"/></entry>'
        b"</feed>"
    )
    got = extract_links("https://site.test/atom", atom)
    assert got == ["https://site.test/atom", "https://site.test/e/1"]

    # an HTML page is untouched by the feed path even if it mentions <link>
    html = (
        b'<html><head><link rel="stylesheet" href="/css"></head>'
        b'<body><a href="/page">go</a></body></html>'
    )
    assert extract_links("https://h.test/", html) == ["https://h.test/page"]


def test_host_spam_mass_separates_farm_from_seeded(spark):
    from ocr_platform_spark.operators.linkgraph import (
        host_pagerank,
        host_spam_mass,
        host_trustrank,
    )

    # seed-fed chain vs a mutually-reinforcing spam pair no seed reaches
    edges = spark.createDataFrame(
        [("seed", "a"), ("a", "b"), ("spam1", "spam2"), ("spam2", "spam1")],
        "src_host string, dst_host string",
    )
    seeds = spark.createDataFrame([("seed",)], "host string")
    rows = {r["host"]: r for r in host_spam_mass(edges, seeds, iterations=6).collect()}

    # the spam farm keeps its PageRank but gets zero trust -> mass ~ 10^6
    assert rows["spam1"]["tr_rank"] == 0
    assert rows["spam1"]["spam_mass_ppm"] == 1_000_000
    assert rows["spam1"]["spam_flag"] and rows["spam2"]["spam_flag"]

    # trust can exceed plain PageRank near the seeds (teleport mass is
    # concentrated on them) -- the clamp keeps mass at 0, never negative
    assert rows["seed"]["tr_rank"] > rows["seed"]["pr_rank"]
    assert rows["seed"]["spam_mass_ppm"] == 0 and not rows["seed"]["spam_flag"]
    for r in rows.values():
        assert 0 <= r["spam_mass_ppm"] <= 1_000_000

    # columns are exactly the component recurrences (composition, no drift)
    pr = {r["host"]: r["rank"] for r in host_pagerank(edges, iterations=6).collect()}
    tr = {r["host"]: r["rank"] for r in host_trustrank(edges, seeds, iterations=6).collect()}
    assert all(rows[h]["pr_rank"] == pr[h] and rows[h]["tr_rank"] == tr[h] for h in rows)


def test_triangle_counts_hand_graph(spark):
    """K4 on a-d plus pendant e-a: each K4 member sits in 3 triangles;
    a's coefficient dilutes from the pendant; e has none."""
    from ocr_platform_spark.operators.linkgraph import triangle_counts

    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"), ("e", "a"), ("b", "a")]  # duplicate reversed edge
    df = spark.createDataFrame(edges, "a string, b string")
    out = {r["host"]: r.asDict() for r in triangle_counts(df, "a", "b").collect()}
    assert out["b"]["n_triangles"] == 3 and out["b"]["clustering_x1000"] == 1000
    assert out["a"]["degree"] == 4 and out["a"]["n_triangles"] == 3
    assert out["a"]["clustering_x1000"] == 500  # 2*3 // (4*3) per mille
    assert out["e"]["n_triangles"] == 0 and out["e"]["clustering_x1000"] == 0
    # triangle conservation: each triangle counted at exactly 3 corners
    assert sum(r["n_triangles"] for r in out.values()) % 3 == 0


def test_resolve_pointer_chains_chain_cycle_self(spark):
    from ocr_platform_spark.operators.linkgraph import resolve_pointer_chains

    decls = [("c3", "c2"), ("c2", "c1"), ("c1", "root"),
             ("s", "s"), ("x", "y"), ("y", "x")]
    df = spark.createDataFrame(decls, "url string, canon string")
    out = {r["url"]: r.asDict() for r in resolve_pointer_chains(df).collect()}
    assert out["c3"]["final_url"] == "root" and out["c3"]["n_hops"] == 3
    assert out["c2"]["final_url"] == "root" and out["c2"]["n_hops"] == 2
    assert out["root"]["final_url"] == "root" and out["root"]["n_hops"] == 0
    assert out["root"]["resolved"] and out["c3"]["resolved"]
    assert out["s"]["n_hops"] == 0 and out["s"]["resolved"]
    assert not out["x"]["resolved"] and out["x"]["n_hops"] == 8
    assert out["x"]["final_url"] in ("x", "y")


def test_resolve_pointer_chains_deep_chain_budget(spark):
    """A chain longer than the 2^doublings budget stays unresolved; one
    more doubling resolves it."""
    from ocr_platform_spark.operators.linkgraph import resolve_pointer_chains

    decls = [(f"n{i}", f"n{i-1}") for i in range(1, 12)]
    df = spark.createDataFrame(decls, "url string, canon string")
    out8 = {r["url"]: r.asDict() for r in resolve_pointer_chains(df, doublings=3).collect()}
    assert not out8["n11"]["resolved"] and out8["n11"]["n_hops"] == 8
    out16 = {r["url"]: r.asDict() for r in resolve_pointer_chains(df, doublings=4).collect()}
    assert out16["n11"]["resolved"] and out16["n11"]["n_hops"] == 11
    assert out16["n11"]["final_url"] == "n0"


def test_seed_distances_shells_and_islands(spark):
    from ocr_platform_spark.operators.linkgraph import seed_distances

    # s -> a -> b -> c (chain), cycle d <-> e reachable from b, island x -> y
    edges = [("s", "a"), ("a", "b"), ("b", "c"), ("b", "d"), ("d", "e"),
             ("e", "d"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("s",)], "host string")
    out = {r["host"]: r["dist"] for r in seed_distances(df, seeds, iterations=6).collect()}
    assert out == {"s": 0, "a": 1, "b": 2, "c": 3, "d": 3, "e": 4, "x": -1, "y": -1}
    # hop budget caps the frontier: with 2 iterations, c/e stay unreached
    out2 = {r["host"]: r["dist"] for r in seed_distances(df, seeds, iterations=2).collect()}
    assert out2["b"] == 2 and out2["c"] == -1 and out2["e"] == -1


def test_host_pagerank_delta_bit_identical_to_full(spark):
    """Folding an edge delta (adds + pair-removals) into stored
    per-iteration states reproduces host_pagerank over the new edge set
    BIT-FOR-BIT — the delta-push fold computes the same recurrence for
    reachable hosts and provably copies the rest."""
    import random

    from ocr_platform_spark.operators.linkgraph import (
        host_pagerank,
        host_pagerank_delta,
        host_pagerank_states,
    )

    rng = random.Random(7)
    hosts = [f"h{i:02d}" for i in range(30)]
    pairs = set()
    while len(pairs) < 120:
        a, b = rng.sample(hosts, 2)
        pairs.add((a, b))
    pairs = sorted(pairs)
    e = spark.createDataFrame(pairs, "src_host string, dst_host string")
    states = host_pagerank_states(e, iterations=5)
    removed = spark.createDataFrame(pairs[20:24], "src_host string, dst_host string")
    added = spark.createDataFrame(
        [(b, a) for a, b in pairs[60:66] if (b, a) not in pairs],
        "src_host string, dst_host string",
    )
    m = {}
    inc = host_pagerank_delta(e, states, added=added, removed=removed, metrics_out=m)
    new_e = e.join(removed, ["src_host", "dst_host"], "left_anti").unionByName(added)
    full = host_pagerank(new_e, iterations=5)
    assert [tuple(r) for r in inc.collect()] == [tuple(r) for r in full.collect()]
    assert m["fallback"] is None


def test_host_pagerank_delta_locality_on_sparse_cone(spark):
    """On a long chain, a delta at the tail touches only its i-hop
    downstream cone — per-iteration affected counts stay far below the
    host count (the whole point of delta maintenance)."""
    from ocr_platform_spark.operators.linkgraph import (
        host_pagerank,
        host_pagerank_delta,
        host_pagerank_states,
    )

    n = 60
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(n - 1)]
    # two parallel chain edges near the tail so a removal keeps the vertex set
    extra = [("c050", "c052"), ("c051", "c053")]
    e = spark.createDataFrame(chain + extra, "src_host string, dst_host string")
    states = host_pagerank_states(e, iterations=5)
    removed = spark.createDataFrame([("c050", "c052")], "src_host string, dst_host string")
    m = {}
    inc = host_pagerank_delta(e, states, removed=removed, metrics_out=m)
    new_e = e.join(removed, ["src_host", "dst_host"], "left_anti")
    full = host_pagerank(new_e, iterations=5)
    assert [tuple(r) for r in inc.collect()] == [tuple(r) for r in full.collect()]
    # the affected cone is the delta's downstream neighbourhood, not the graph
    assert max(m["affected_counts"]) <= 10 < m["n_hosts"]


def test_host_pagerank_delta_vertex_drift_falls_back(spark):
    """A delta that introduces a NEW host shifts the per-host base term —
    the fold detects it and recomputes from scratch (still exact)."""
    from ocr_platform_spark.operators.linkgraph import (
        host_pagerank,
        host_pagerank_delta,
        host_pagerank_states,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src_host string, dst_host string"
    )
    states = host_pagerank_states(e, iterations=4)
    added = spark.createDataFrame([("a", "newhost")], "src_host string, dst_host string")
    m = {}
    inc = host_pagerank_delta(e, states, added=added, metrics_out=m)
    full = host_pagerank(e.unionByName(added), iterations=4)
    assert m["fallback"] == "vertex-set-changed"
    assert [tuple(r) for r in inc.collect()] == [tuple(r) for r in full.collect()]


def test_host_pagerank_delta_chained_folds(spark):
    """Folding delta2 against the UPDATED ladder emitted by delta1's
    states_out equals a full recompute over both deltas — the chained
    maintenance contract a recrawl pipeline runs day after day."""
    import random

    from ocr_platform_spark.operators.linkgraph import (
        host_pagerank,
        host_pagerank_delta,
        host_pagerank_states,
    )

    rng = random.Random(11)
    hosts = [f"h{i:02d}" for i in range(24)]
    pairs = set()
    while len(pairs) < 90:
        a, b = rng.sample(hosts, 2)
        pairs.add((a, b))
    pairs = sorted(pairs)
    e0 = spark.createDataFrame(pairs, "src_host string, dst_host string")
    states0 = host_pagerank_states(e0, iterations=4)

    add1 = spark.createDataFrame(
        [(b, a) for a, b in pairs[5:9] if (b, a) not in pairs],
        "src_host string, dst_host string",
    )
    states1: list = []
    host_pagerank_delta(e0, states0, added=add1, states_out=states1)
    assert len(states1) == len(states0)
    e1 = e0.unionByName(add1)

    rm2 = spark.createDataFrame(pairs[30:33], "src_host string, dst_host string")
    m = {}
    inc2 = host_pagerank_delta(e1, states1, removed=rm2, metrics_out=m)
    e2 = e1.join(rm2, ["src_host", "dst_host"], "left_anti")
    full = host_pagerank(e2, iterations=4)
    assert m["fallback"] is None
    assert [tuple(r) for r in inc2.collect()] == [tuple(r) for r in full.collect()]


def test_graph_maintenance_fold_refuses_in_place_out(tmp_path):
    """``fold --out`` naming the ``--states`` ladder would overwrite the
    fold's own lazily-read input: the CLI refuses it before any Spark
    session starts, also when the two paths only resolve to the same dir."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    states = tmp_path / "states"
    states.mkdir()
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "run_graph_maintenance.py"),
         "fold", "--edges", str(tmp_path / "edges"), "--states", str(states),
         "--out", str(states) + "/."],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "--out to differ from --states" in proc.stderr
    assert os.listdir(states) == []


def test_recrawl_rank_maintenance_composition(spark):
    """The composed catalog entry's moving parts, pinned at unit level:
    the recrawl rewiring is a dst-url permutation (vertex set preserved →
    no fallback), the host-grain multiset delta is non-empty, and the
    folded ranks equal a from-scratch recompute over the post-recrawl
    host edges."""
    from ocr_platform_spark.operators.linkgraph import host_pagerank
    from ocr_platform_spark.queries import CATALOG

    sf = "/root/testdata/sf0.001"
    got = CATALOG["recrawl_rank_maintenance"].fn(spark, sf)
    rows = [tuple(r) for r in got.collect()]
    assert len(rows) == len({h for h, _ in rows})  # one rank per host
    # from-scratch recompute over the post-recrawl graph must agree —
    # rebuild curr_h exactly the way the entry does
    from ocr_platform_spark.operators.linkgraph import extract_outlinks, host_edges
    from ocr_platform_spark.queries import _synth_docs, _PRD_ITER
    from pyspark.sql import Window, functions as F

    prev = extract_outlinks(_synth_docs(spark)).distinct()
    first = F.substring(F.md5("src_url"), 1, 1)
    ch = prev.where(first.isin("0", "1", "2")).select(
        F.substring(F.md5("dst_url"), 1, 2).alias("_b"), "src_url", "dst_url"
    )
    keep = prev.where(~first.isin("0", "1", "2")).select("src_url", "dst_url")
    w = Window.partitionBy("_b").orderBy("src_url", "dst_url")
    chn = ch.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(Window.partitionBy("_b"))
    )
    rot = (
        chn.alias("l")
        .join(
            chn.select(
                F.col("_b"), F.col("_rn").alias("_take"),
                F.col("dst_url").alias("_dst"),
            ).alias("r"),
            (F.col("l._b") == F.col("r._b"))
            & (F.col("_take") == F.col("l._rn") % F.col("l._n") + 1),
        )
        .select(F.col("l.src_url").alias("src_url"), F.col("_dst").alias("dst_url"))
    )
    curr_h = host_edges(keep.unionByName(rot))
    expect = [
        tuple(r) for r in host_pagerank(curr_h, iterations=_PRD_ITER).collect()
    ]
    assert rows == expect
    # the rewiring must actually move host pairings (non-vacuous delta)
    prev_h = host_edges(prev)
    pc = prev_h.groupBy("src_host", "dst_host").count()
    cc = curr_h.groupBy("src_host", "dst_host").count()
    n_chg = (
        pc.withColumnRenamed("count", "_pc")
        .join(cc.withColumnRenamed("count", "_cc"), ["src_host", "dst_host"], "full")
        .where(F.coalesce("_pc", F.lit(0)) != F.coalesce("_cc", F.lit(0)))
        .count()
    )
    assert n_chg > 0


def test_host_ppr_single_seed_equals_trustrank(spark):
    """PPR with one seed IS TrustRank with that one seed (same integer
    recurrence: full teleport mass at the seed) — a cross-operator
    differential that pins the batched implementation."""
    import random

    from ocr_platform_spark.operators.linkgraph import host_ppr, host_trustrank

    rng = random.Random(5)
    hosts = [f"h{i:02d}" for i in range(18)]
    pairs = set()
    while len(pairs) < 60:
        a, b = rng.sample(hosts, 2)
        pairs.add((a, b))
    e = spark.createDataFrame(sorted(pairs), "src_host string, dst_host string")
    seed = spark.createDataFrame([("h03",)], "seed string")
    ppr = host_ppr(e, seed, iterations=5)
    tr = host_trustrank(e, seed.withColumnRenamed("seed", "host"), iterations=5)
    got = [(r["host"], r["rank"]) for r in ppr.select("host", "rank").collect()]
    expect = [(r["host"], r["rank"]) for r in tr.collect()]
    assert got == expect


def test_host_ppr_batched_seeds_localize(spark):
    """Per-seed vectors: mass concentrates downstream of each seed on a
    disjoint two-chain graph — cross-chain cells stay zero, and total
    per-seed mass never exceeds the scale (integer leak is one-sided)."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.linkgraph import host_ppr

    chain_a = [(f"a{i}", f"a{i + 1}") for i in range(6)]
    chain_b = [(f"b{i}", f"b{i + 1}") for i in range(6)]
    e = spark.createDataFrame(chain_a + chain_b, "src_host string, dst_host string")
    seeds = spark.createDataFrame([("a0",), ("b0",)], "seed string")
    out = host_ppr(e, seeds, iterations=4)
    rows = {(r["seed"], r["host"]): r["rank"] for r in out.collect()}
    # no mass ever crosses between the disjoint chains
    assert all(v == 0 for (s, h), v in rows.items() if h[0] != s[0])
    # the seed's own chain carries mass beyond the seed
    assert rows[("a0", "a1")] > 0 and rows[("b0", "b1")] > 0
    totals = (
        out.groupBy("seed").agg(F.sum("rank").alias("t")).collect()
    )
    assert all(t["t"] <= 10**9 for t in totals)
