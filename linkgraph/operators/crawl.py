"""Crawl-scheduling primitives: OPIC page importance and snapshot
edge deltas.

``opic`` is On-line Page Importance Computation (Abiteboul, Preda,
Cobena, WWW'03 — public paper): every page holds *cash*; each round
it distributes its cash across its out-links and banks what it spent
into *history*. The running importance estimate
``(history + cash) / (rounds + 1)`` converges to the undamped random-
walk stationary distribution, but — unlike PageRank — the partial
sums are meaningful after ANY number of rounds, which is why crawlers
use it to prioritize fetch frontiers while the crawl is still
running. This implementation is the synchronous variant with the
virtual-page route for dangling cash (a page with no out-links sends
its cash to the virtual page, which redistributes it uniformly —
exactly the dangling-mass treatment of pagerank.py, so the operator
inherits the same scale analysis: stationary src-partitioned
transition operand built once, one co-partitioned join + one
map-side-combined dst sum per round, O(V·P) shuffled rows, never
O(E)).

``edge_delta`` classifies the edge set of two crawl snapshots —
added / removed / changed (multiplicity moved) / kept — with one
full-outer join on the edge key. It is the input-differencing step of
incremental rank maintenance: feed ``pagerank(init_ranks=yesterday)``
(operators/pagerank.py warm start) with the new snapshot and the
delta report tells you how much perturbation to expect.

Reference scope: networkx-rust has no crawl surface; these serve the
web-pipeline inventory (SURVEY §2.8b) like TrustRank/spam-mass do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.functions.text import md5int_col
from linkgraph.graph import LinkGraph
from linkgraph.plans.iterate import LineageChain
from linkgraph.plans.partitioning import spmv_plan, transition_operand


def opic(
    graph: LinkGraph,
    rounds: int = 10,
    weighted: bool = True,
    weight_expr: Column | str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    resume: bool = True,
) -> DataFrame:
    """DataFrame(id, cash, history, priority) after ``rounds``
    synchronous OPIC rounds.

    The cash gather runs pagerank's SpMV plan on pagerank's memoized
    transition operand (plans/partitioning.transition_operand), so
    the two operators share one build per graph; the broadcast-or-
    shuffle choice follows ``spark.sql.autoBroadcastJoinThreshold``.

    Invariants (tested): Σ cash = 1 after every round, Σ history =
    rounds, so Σ priority = 1 — the estimate is a distribution at
    every prefix of the crawl, which is the property OPIC buys over
    running a truncated power iteration.

    ``checkpoint_dir``/``checkpoint_every``: durable per-round commits
    of the cash/history state (PeelCheckpoint, like every other
    iterative operator); a restarted call with the same dir resumes at
    the next round — OPIC is the operator MEANT to run alongside a
    weeks-long crawl, so it must survive a driver restart. Resuming
    can also EXTEND a finished run to more ``rounds``.
    """
    from linkgraph.operators.pagerank import _weight_col

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    spark = graph.edges.sparkSession
    edges = graph.sym_edges
    vertices = graph.vertices.select("id")
    n = graph.operand(("count", "vertices"), vertices.count)
    if n == 0:
        return spark.createDataFrame(
            [], "id long, cash double, history double, priority double"
        )
    m = graph.operand(("count", "sym_edges"), edges.count)
    plan = spmv_plan(spark, n, m)

    w = _weight_col(weighted, weight_expr)
    out_sums = edges.groupBy("src").agg(F.sum(w).alias("out_w"))
    trans_memo = weight_expr is None
    trans = transition_operand(graph, plan, w, out_sums, weighted, memo=trans_memo)

    def _build_verts():
        dangling_ids = vertices.join(
            out_sums.select(F.col("src").alias("id")), "id", "left_anti"
        )
        v = (
            vertices.join(dangling_ids, "id", "left_anti")
            .withColumn("dangling", F.lit(False))
            .unionByName(dangling_ids.withColumn("dangling", F.lit(True)))
            .repartition(plan.n_parts, "id")
            .persist()
        )
        v.count()
        return v

    verts = graph.operand(("opic_verts", plan.n_parts), _build_verts)

    from linkgraph.plans.iterate import PeelCheckpoint

    chain = LineageChain()
    state = verts.select(
        "id", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("history"), "dangling"
    )
    ckpt = PeelCheckpoint(checkpoint_dir, spark) if checkpoint_dir else None
    start = 0
    if ckpt and resume:
        meta = ckpt.latest()
        if meta is not None:
            if meta["round"] > rounds:
                # history already accumulates MORE rounds than the
                # caller's denominator would claim: normalizing by
                # rounds+1 would make sum(priority) > 1, silently
                # breaking the distribution invariant this operator
                # promises after any round prefix.
                raise ValueError(
                    f"opic resume: checkpoint at round {meta['round']} exceeds "
                    f"rounds={rounds}; pass rounds >= {meta['round']} (resume "
                    "extends a run, it cannot shrink one)"
                )
            state = ckpt.load(meta)["state"]
            start = meta["round"]
    for r in range(start, rounds):
        # dangling cash as an in-plan 1-row broadcast, no collect
        dm = state.filter("dangling").agg(
            F.coalesce(F.sum("cash"), F.lit(0.0)).alias("dm")
        )
        cash = plan.state(state.select("id", "cash"))
        recv = (
            cash.join(trans, cash["id"] == trans["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("cash") * F.col("p")).alias("recv"))
        )
        state = (
            state.join(recv, state["id"] == recv["dst"], "left")
            .crossJoin(F.broadcast(dm))
            .select(
                state["id"],
                (F.coalesce(F.col("recv"), F.lit(0.0)) + F.col("dm") / n).alias(
                    "cash"
                ),
                (F.col("history") + F.col("cash")).alias("history"),
                state["dangling"],
            )
        )
        state = chain.cut(state)
        if ckpt and checkpoint_every and (r + 1) % checkpoint_every == 0:
            ckpt.commit(r + 1, {"state": state})

    out = state.select(
        "id",
        "cash",
        "history",
        ((F.col("history") + F.col("cash")) / F.lit(float(rounds + 1))).alias(
            "priority"
        ),
    )
    if not trans_memo:
        trans.unpersist()
    return out


def resolve_aliases(
    aliases: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 48,
) -> DataFrame:
    """Resolve redirect/canonical-alias chains to their terminal
    target by pointer doubling: DataFrame(id, target, hops, status)
    with status 'resolved' (chain ends at a url with no outgoing
    alias) or 'cycle' (redirect loop — real crawl data, reported, not
    raised).

    ``aliases`` is a functional graph: at most one outgoing alias per
    src (HTTP redirect / rel=canonical); duplicate (src, dst) rows
    collapse, but two DIFFERENT targets for one src raise — that is
    corrupt input, and picking one silently would be wrong.

    Each round every unresolved pointer jumps to its pointer's
    pointer and accumulates hops (ptr ← ptr(ptr), d ← d + d(ptr)), so
    a length-L chain resolves in ceil(log2 L) rounds — 48 rounds
    covers chains of 2^48 links, i.e. any non-cycle. The per-round
    plan is one self-equi-join on the pointer column plus one count;
    state never exceeds one row per aliased url. Rows still pointing
    at an aliased url when the doubling stops moving are on (or feed
    into) a cycle.
    """
    a = (
        aliases.select(
            F.col(src_col).alias("id"), F.col(dst_col).alias("ptr")
        ).distinct()
    )
    dup = a.groupBy("id").agg(F.count("*").alias("n")).filter("n > 1")
    bad = dup.limit(1).collect()
    if bad:
        raise ValueError(
            f"resolve_aliases needs a functional graph: src {bad[0]['id']} has "
            f"{bad[0]['n']} distinct targets"
        )
    chain = LineageChain()
    # done(v) = ptr(v) is terminal (has no outgoing alias itself)
    state = chain.cut(
        a.join(a.select(F.col("id").alias("_t")), a.ptr == F.col("_t"), "left")
        .select("id", "ptr", F.lit(1).cast("long").alias("hops"),
                F.col("_t").isNull().alias("done"))
    )
    prev_done = state.filter("done").count()
    for _ in range(max_rounds):
        if state.filter(~F.col("done")).limit(1).count() == 0:
            break
        nxt = state.select(
            F.col("id").alias("_nid"),
            F.col("ptr").alias("_nptr"),
            F.col("hops").alias("_nhops"),
            F.col("done").alias("_ndone"),
        )
        state = chain.cut(
            state.join(nxt, state.ptr == nxt._nid, "left").select(
                "id",
                F.when(F.col("done") | F.col("_nptr").isNull(), F.col("ptr"))
                .otherwise(F.col("_nptr"))
                .alias("ptr"),
                F.when(F.col("done") | F.col("_nptr").isNull(), F.col("hops"))
                .otherwise(F.col("hops") + F.col("_nhops"))
                .alias("hops"),
                (F.col("done") | F.coalesce("_ndone", F.lit(True))).alias("done"),
            )
        )
        n_done = state.filter("done").count()
        if n_done == prev_done:
            # chain rows live at every distance 1..L of their chain, so
            # a round that resolves NOTHING means no resolvable row is
            # left — everything still undone sits on (or feeds) a cycle
            break
        prev_done = n_done
    # cycle rows' (ptr, hops) rotate with the round count — meaningless
    # to report; normalize to NULL so the result is round-invariant
    out = state.select(
        "id",
        F.when(F.col("done"), F.col("ptr")).alias("target"),
        F.when(F.col("done"), F.col("hops")).alias("hops"),
        F.when(F.col("done"), F.lit("resolved")).otherwise(F.lit("cycle")).alias(
            "status"
        ),
    )
    return out


def politeness_schedule(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "url",
    priority_col: str = "priority",
    n_buckets: int = 32,
) -> DataFrame:
    """DataFrame(host, id, fetch_rank): per-host fetch order by
    descending priority (ties by id ascending) — fetch_rank = k means
    the url is the k-th fetch from its host, so politeness wave w
    (one request per host per wave) is exactly the rows with
    fetch_rank = w. The crawl-frontier step after OPIC/PageRank
    scores.

    The naive plan — ``row_number() OVER (PARTITION BY host …)`` —
    funnels each host's ENTIRE url set through one task: a 10M-page
    hub host becomes one straggler. This ranks in two levels instead:
    per-host approx-percentile boundaries split each host's rows into
    ``n_buckets`` priority ranges (order-monotone: equal priorities
    share a bucket), bucket offsets come from one bounded-size count
    aggregation, and the window only ever partitions by
    (host, bucket) — ≈ 1/n_buckets of a host per task. The result is
    value-identical to the single-window rank (tested against it and
    against the SQL oracle).

    NULL priorities are coalesced to -infinity, so unknown-priority
    urls land in the LAST bucket and sort after every scored url —
    exactly where ``row_number() OVER (ORDER BY p DESC NULLS LAST)``
    puts them. (If a frontier carries BOTH literal -inf scores and
    NULLs, the two tie and break by id; don't do that.)
    """
    base = df.select(
        F.col(host_col).alias("host"),
        F.col(id_col).alias("id"),
        F.coalesce(
            F.col(priority_col).cast("double"), F.lit(float("-inf"))
        ).alias("p"),
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = base.groupBy("host").agg(
        F.expr(f"percentile_approx(p, array({','.join(str(x) for x in probs)}), 10000)")
        .alias("bs")
    )
    # bucket = number of boundaries strictly above p: descending
    # priority ranges, equal priorities always share a bucket
    # one small row per host — AQE broadcasts when it fits, shuffles
    # on host otherwise (at 10^8 hosts a forced broadcast would OOM)
    bucketed = base.join(bounds, "host").select(
        "host",
        "id",
        "p",
        F.aggregate(
            "bs", F.lit(0), lambda acc, b: acc + F.when(b > F.col("p"), 1).otherwise(0)
        ).alias("b"),
    )
    counts = bucketed.groupBy("host", "b").agg(F.count("*").alias("c"))
    offsets = (
        counts.groupBy("host")
        .agg(F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m"))
        .select(
            "host",
            F.explode(
                F.expr(
                    # offset(b) = Σ_{b' < b} count(b') — n_buckets is
                    # bounded, so this per-host array is tiny
                    f"""transform(sequence(0, {n_buckets - 1}), b -> struct(
                        b AS b,
                        aggregate(sequence(0, {n_buckets - 1}),
                                  0L,
                                  (acc, i) -> acc + CASE WHEN i < b
                                      THEN coalesce(element_at(m, i), 0L)
                                      ELSE 0L END) AS off))"""
                )
            ).alias("e"),
        )
        .select("host", F.col("e.b").alias("b"), F.col("e.off").alias("off"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host", "b").orderBy(F.desc("p"), F.asc("id"))
    return (
        bucketed.withColumn("_r", F.row_number().over(w))
        .join(offsets, ["host", "b"])
        .select("host", "id", (F.col("off") + F.col("_r")).alias("fetch_rank"))
    )


def robots_rules(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """Parse robots.txt bodies into the effective rule table for one
    crawler: DataFrame(host, rule, path, pattern, specificity).

    RFC 9309 semantics (public spec; the reference has no crawl
    surface — web-pipeline inventory, SURVEY §2.8b):

    - lines are ``key: value`` with ``#`` comments stripped; only
      ``user-agent`` / ``allow`` / ``disallow`` keys matter here;
    - consecutive ``user-agent`` lines stack onto ONE group; a group's
      rules run until the next group starts;
    - per host, if any group names this ``agent`` (exact product-token
      match, case-insensitive) only those groups apply, otherwise the
      ``*`` groups apply — the RFC's most-specific-group rule;
    - empty-path rules are no-ops and are dropped (``Disallow:`` means
      allow-all);
    - ``*`` in a path matches any char run, a trailing ``$`` anchors
      the end; ``pattern`` is the equivalent anchored regex, built in
      the Java∩RE2 dialect subset (escaped literals + ``.*`` + ``$``)
      so Spark and DuckDB read it identically;
    - ``specificity`` is the rule-path length — RFC 9309's
      longest-match precedence key (``robots_allowed`` breaks ties
      allow-over-disallow, also per RFC).

    Scale shape: one posexplode of the line array, per-host windows
    for group numbering — safe because robots.txt is capped at 500 KiB
    by the RFC (crawlers enforce it), so a "partition" is at most a
    few thousand lines; no join ever keys on anything bigger than the
    per-host rule set. Everything is Catalyst string/window ops — zero
    Python.
    """
    from pyspark.sql import Window

    lines = (
        robots.select(
            F.col(host_col).alias("host"),
            F.posexplode(F.split(F.col(body_col), "\r?\n")).alias("pos", "raw"),
        )
        .select(
            "host", "pos", F.regexp_replace("raw", "#.*", "").alias("line")
        )
        .filter(F.instr("line", ":") > 0)
        .select(
            "host",
            "pos",
            F.lower(
                F.trim(F.expr("substring(line, 1, instr(line, ':') - 1)"))
            ).alias("key"),
            F.trim(F.expr("substring(line, instr(line, ':') + 1)")).alias("val"),
        )
        .filter(F.col("key").isin("user-agent", "allow", "disallow"))
    )
    w = Window.partitionBy("host").orderBy("pos")
    grouped = lines.select(
        "host",
        "pos",
        "key",
        "val",
        F.sum(
            F.when(
                (F.col("key") == "user-agent")
                & (F.coalesce(F.lag("key").over(w), F.lit("")) != "user-agent"),
                1,
            ).otherwise(0)
        )
        .over(w)
        .alias("gid"),
    )
    agents = (
        grouped.filter(F.col("key") == "user-agent")
        .groupBy("host", "gid")
        .agg(
            F.max(
                F.when(F.lower("val") == agent.lower(), True).otherwise(False)
            ).alias("named"),
            F.max(F.when(F.col("val") == "*", True).otherwise(False)).alias(
                "star"
            ),
        )
    )
    host_named = agents.groupBy("host").agg(F.max("named").alias("any_named"))
    effective = agents.join(host_named, "host").filter(
        (F.col("any_named") & F.col("named"))
        | (~F.col("any_named") & F.col("star"))
    )
    rules = (
        grouped.filter(F.col("key").isin("allow", "disallow"))
        .filter(F.length("val") > 0)
        .join(effective.select("host", "gid"), ["host", "gid"], "left_semi")
    )
    # rule path -> anchored regex: strip a trailing $ (the anchor),
    # escape regex specials, reinstate * as .* — the Java∩RE2 subset
    anchored = F.col("val").endswith("$")
    body = F.when(anchored, F.expr("substring(val, 1, length(val) - 1)")).otherwise(
        F.col("val")
    )
    escaped = F.regexp_replace(
        body, r"([.^$+?(){}\[\]|\\])", r"\\$1"
    )
    pattern = F.concat(
        F.lit("^"),
        F.regexp_replace(escaped, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    return rules.select(
        "host",
        F.col("key").alias("rule"),
        F.col("val").alias("path"),
        pattern.alias("pattern"),
        F.length("val").cast("long").alias("specificity"),
    ).distinct()


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Evaluate a crawl frontier against a ``robots_rules`` table:
    DataFrame(host, path, allowed, rule_path) — RFC 9309 precedence
    (longest matching rule wins; allow beats disallow on equal
    length; no matching rule, or no rules for the host, means
    allowed). ``rule_path`` is the winning rule's path (NULL when
    nothing matched).

    Plan: one equi-join on host (the rules side is at most a few
    hundred rows per host — robots.txt is size-capped — so fan-out is
    bounded and a hub host's URLs still spread across tasks), the
    regex match as a column-pattern ``rlike``, then one
    map-side-combinable max_by per url. Deterministic: the winner
    struct orders by (specificity, allow-flag, path).
    """
    u = urls.select(
        F.col(host_col).alias("host"), F.col(path_col).alias("path")
    )
    r = rules.select(
        F.col("host").alias("_rhost"),
        F.col("rule").alias("_rule"),
        F.col("path").alias("_rpath"),
        F.col("pattern").alias("_pat"),
        F.col("specificity").alias("_spec"),
    )
    joined = u.join(r, u.host == F.col("_rhost"), "left").withColumn(
        "_hit", F.expr("path rlike _pat")
    )
    win = F.max(
        F.when(
            F.col("_hit"),
            F.struct(
                F.col("_spec").alias("s"),
                (F.col("_rule") == "allow").alias("a"),
                F.col("_rpath").alias("p"),
            ),
        )
    ).alias("w")
    return (
        joined.groupBy("host", "path")
        .agg(win)
        .select(
            "host",
            "path",
            F.coalesce(F.col("w.a"), F.lit(True)).alias("allowed"),
            F.col("w.p").alias("rule_path"),
        )
    )


def edge_delta(
    old: DataFrame,
    new: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """DataFrame(src, dst, old_weight, new_weight, status) — every
    edge of either snapshot classified added / removed / changed /
    kept. One full-outer equi-join on the edge key: both sides
    shuffle on (src, dst) (uniform — a hub's in-links spread over
    many src values), nothing collects.
    """
    o = old.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("_ow"),
    )
    nw = new.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("_nw"),
    )
    status = (
        F.when(F.col("_ow").isNull(), F.lit("added"))
        .when(F.col("_nw").isNull(), F.lit("removed"))
        .when(F.col("_ow") != F.col("_nw"), F.lit("changed"))
        .otherwise(F.lit("kept"))
    )
    return o.join(nw, ["src", "dst"], "full_outer").select(
        "src",
        "dst",
        F.col("_ow").alias("old_weight"),
        F.col("_nw").alias("new_weight"),
        status.alias("status"),
    )


def change_rates(
    observations: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    changed_col: str = "changed",
) -> DataFrame:
    """DataFrame(url, n, x, interval_s, lambda_hat): per-URL Poisson
    change-rate estimation from crawl revisit history — the input to
    any freshness-driven recrawl policy (Cho & Garcia-Molina, "Estimating
    Frequency of Change", ACM TOIT 2003). Each observation row is one
    access with a boolean "a change was detected since the previous
    access".

    The naive ratio x/n underestimates badly (two changes between
    consecutive accesses are observed as one); the paper's improved
    estimator r̂ = −ln((n − x + 0.5)/(n + 0.5)) corrects it and stays
    finite even when every access saw a change. λ̂ = r̂ / Ī per
    second, with Ī = (max ts − min ts)/(n − 1) the mean access
    interval. URLs with a single access carry NULLs (no interval
    evidence). One map-side-combined aggregation; no shuffle beyond
    the per-URL groupBy."""
    g = observations.groupBy(F.col(url_col).alias("url")).agg(
        F.count("*").alias("n"),
        F.sum(F.col(changed_col).cast("long")).alias("x"),
        (
            F.max(F.col(ts_col)).cast("double") - F.min(F.col(ts_col)).cast("double")
        ).alias("span"),
    )
    interval = F.when(F.col("n") >= 2, F.col("span") / (F.col("n") - 1))
    rhat = -F.log((F.col("n") - F.col("x") + 0.5) / (F.col("n") + 0.5))
    return g.select(
        "url",
        "n",
        "x",
        interval.alias("interval_s"),
        F.when(
            interval.isNotNull() & (interval > 0), rhat / interval
        ).alias("lambda_hat"),
    )


def freshness_schedule(
    rates: DataFrame,
    budget_per_day: float,
    policy: str = "uniform",
) -> DataFrame:
    """DataFrame(url, lambda_hat, revisit_every_s, expected_freshness):
    allocate a recrawl budget (total fetches/day across all URLs)
    and report the expected time-averaged freshness per URL — the
    fraction of time the local copy matches the live page under
    Poisson changes at rate λ revisited every Δ seconds:
    E[fresh] = (1 − e^(−λΔ))/(λΔ), → 1 as λΔ → 0.

    Policies (the two closed forms Cho & Garcia-Molina compare —
    uniform dominates, which this operator lets a crawl verify on its
    own history):
    - ``uniform``: every URL gets budget/|URLs| fetches per day.
    - ``proportional``: fetches proportional to λ̂ (the intuitive
      policy the paper disproves).
    URLs with NULL λ̂ (single access) get the policy's interval with
    NULL freshness. The |URLs| and Σλ̂ totals ride the plan as 1-row
    broadcasts — nothing collects."""
    if policy not in ("uniform", "proportional"):
        raise ValueError(f"unknown policy {policy!r}")
    if budget_per_day <= 0:
        raise ValueError("budget_per_day must be positive")
    tot = rates.agg(
        F.count("*").cast("double").alias("n_urls"),
        F.coalesce(F.sum("lambda_hat"), F.lit(0.0)).alias("sum_lambda"),
    )
    day = 86400.0
    base = rates.crossJoin(F.broadcast(tot))
    if policy == "uniform":
        delta = F.col("n_urls") / F.lit(float(budget_per_day)) * day
    else:
        freq = (
            F.lit(float(budget_per_day))
            * F.col("lambda_hat")
            / F.col("sum_lambda")
        )
        delta = F.when(freq > 0, day / freq)
    ld = F.col("lambda_hat") * delta
    fresh = F.when(ld > 0, (1.0 - F.exp(-ld)) / ld).when(
        ld == 0, F.lit(1.0)
    )
    return base.select(
        "url",
        "lambda_hat",
        delta.alias("revisit_every_s"),
        fresh.alias("expected_freshness"),
    )


# ---------------------------------------------------------------------------
# URL-seen test: sharded Bloom prefilter for the crawl frontier
# ---------------------------------------------------------------------------


def _bloom_pos(url: Column, j: int, m_bits: int, seed: int) -> Column:
    """Portable bloom bit position j for ``url`` — md5-derived (the
    engine's cross-engine hash convention) so the exact bitmap
    replays in ANSI SQL; swap to xxhash64 at production scale if the
    oracle path isn't needed."""
    return F.pmod(
        md5int_col(F.concat(url, F.lit(f":{j}:{seed}"))), F.lit(m_bits)
    ).cast("int")


def _bloom_shard(url: Column, shards: int, seed: int) -> Column:
    return F.pmod(
        md5int_col(F.concat(url, F.lit(f":s:{seed}"))), F.lit(shards)
    ).cast("int")


def url_bloom(
    seen: DataFrame,
    url_col: str = "url",
    shards: int = 64,
    m_bits: int = 1 << 16,
    k: int = 4,
    seed: int = 0,
) -> DataFrame:
    """DataFrame(shard, bm: map<int,bigint>) — a sharded Bloom filter
    over the seen-URL set (the Mercator crawler's URL-seen test,
    Heydon & Najork 1999; Bloom CACM'70), built entirely as column
    math: k md5-derived bit positions per URL, one bit_or groupBy on
    (shard, word) — 60-bit words, so every set-bit shift stays inside
    a signed 64-bit lane and the bitmap replays in engines that raise
    on 1<<63 —, one map_from_entries per shard. Occupied words
    only, so the table's size tracks the SET bits, and the whole
    filter broadcasts to the frontier scan.

    Sharding is the 10^12-URL answer: one monolithic filter for a
    trillion seen URLs cannot live in one task, but each shard
    covers ~|seen|/shards URLs with its own m_bits-bit space —
    size m_bits and shards together so per-shard load keeps the
    false-positive rate (≈ (1 - e^(-k·n/m))^k) at target, and raise
    shards, not m_bits, as the corpus grows.
    """
    url = F.col(url_col)
    word_bits = []
    for j in range(k):
        p = _bloom_pos(url, j, m_bits, seed)
        word_bits.append(
            F.struct(
                (p / 60).cast("int").alias("word"),
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(60))
                ).alias("b"),
            )
        )
    return (
        seen.select(
            _bloom_shard(url, shards, seed).alias("shard"),
            F.explode(F.array(*word_bits)).alias("wb"),
        )
        .select("shard", F.col("wb.word").alias("word"), F.col("wb.b").alias("b"))
        .groupBy("shard", "word")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .groupBy("shard")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("word", "bits")))
            ).alias("bm")
        )
    )


def bloom_might_contain(
    frontier: DataFrame,
    bloom: DataFrame,
    url_col: str = "url",
    m_bits: int = 1 << 16,
    k: int = 4,
    shards: int = 64,
    seed: int = 0,
) -> DataFrame:
    """``frontier`` plus a ``maybe_seen`` column: true iff all k bloom
    bits for the URL are set in its shard's bitmap. The bloom table
    broadcasts (shards rows); the frontier never shuffles."""
    url = F.col(url_col)
    probed = frontier.withColumn("shard", _bloom_shard(url, shards, seed)).join(
        F.broadcast(bloom), "shard", "left"
    )
    cond = F.lit(True)
    for j in range(k):
        p = _bloom_pos(url, j, m_bits, seed)
        word = (p / 60).cast("int")
        bit = F.call_function("shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(60)))
        cond = cond & (
            F.coalesce(F.element_at(F.col("bm"), word), F.lit(0).cast("long"))
            .bitwiseAND(bit)
            != 0
        )
    return probed.withColumn("maybe_seen", cond).drop("shard", "bm")


def url_seen_filter(
    seen: DataFrame,
    frontier: DataFrame,
    url_col: str = "url",
    shards: int = 64,
    m_bits: int = 1 << 16,
    k: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Frontier rows with ``maybe_seen`` (bloom verdict) and ``is_new``
    (EXACT: not in the seen set). Two-phase and exact: bloom has no
    false negatives, so only the maybe_seen fraction (true dups +
    ≈fpp of the rest) reaches the anti-join against the seen table —
    at 10^12 seen URLs the definite-new majority of a crawl's
    candidate frontier never shuffles at all.
    """
    probed = bloom_might_contain(
        frontier, url_bloom(seen, url_col, shards, m_bits, k, seed),
        url_col, m_bits, k, shards, seed,
    )
    maybe = probed.filter(F.col("maybe_seen"))
    hits = maybe.join(
        seen.select(F.col(url_col)).distinct(), url_col, "left_semi"
    ).select(F.col(url_col).alias("_hit"))
    confirmed = maybe.join(hits, maybe[url_col] == F.col("_hit"), "left").select(
        *probed.columns, F.col("_hit").isNull().alias("is_new")
    )
    definite = probed.filter(~F.col("maybe_seen")).withColumn("is_new", F.lit(True))
    return definite.unionByName(confirmed)


def sitemap_entries(
    df: DataFrame,
    host_col: str = "host",
    xml_col: str = "xml",
) -> DataFrame:
    """Parse sitemap.xml / sitemap-index bodies (sitemaps.org
    protocol, the discovery-side complement of robots.txt) into a URL
    table: DataFrame(host, url, lastmod, lastmod_date, changefreq,
    priority, is_index) — one row per ``<url>`` entry (is_index
    false) or per child ``<sitemap>`` of an index file (is_index
    true; feed those urls back through the fetcher and this parser).

    Pure Catalyst regex over the body — the standard practical
    sitemap treatment (the format is flat enough that tag-scoped
    regex with (?s) is exact for conforming files; no XML library in
    the executors). Fields beyond ``<loc>`` are optional and NULL
    when absent; ``priority`` casts to double (NULL on junk under
    ANSI-safe try_cast semantics via a digits guard); ``lastmod_date``
    parses the W3C datetime's date prefix. Entries with no ``<loc>``
    are dropped. Plan: one regexp_extract_all + posexplode per input
    row (map-side, no shuffle at all) — fan-out bounded by the 50k-URL
    protocol cap per sitemap file.
    """
    def entries(tag: str) -> Column:
        return F.expr(
            f"regexp_extract_all(_x, '(?s)<{tag}>(.*?)</{tag}>', 1)"
        )

    def field(entry: Column, tag: str) -> Column:
        got = F.regexp_extract(entry, f"(?s)<{tag}>\\s*(.*?)\\s*</{tag}>", 1)
        return F.when(got != "", got)

    base = df.select(
        F.col(host_col).alias("host"),
        F.col(xml_col).alias("_x"),
    )
    both = base.select(
        "host",
        F.explode(
            F.concat(
                F.transform(
                    entries("url"),
                    lambda e: F.struct(e.alias("e"), F.lit(False).alias("ix")),
                ),
                F.transform(
                    entries("sitemap"),
                    lambda e: F.struct(e.alias("e"), F.lit(True).alias("ix")),
                ),
            )
        ).alias("_s"),
    ).select("host", F.col("_s.e").alias("_e"), F.col("_s.ix").alias("is_index"))
    loc = field(F.col("_e"), "loc")
    lastmod = field(F.col("_e"), "lastmod")
    prio = field(F.col("_e"), "priority")
    return (
        both.select(
            "host",
            loc.alias("url"),
            lastmod.alias("lastmod"),
            # regex guard BEFORE to_date: ANSI mode raises on junk
            F.when(
                F.coalesce(lastmod, F.lit("")).rlike(r"^\d{4}-\d{2}-\d{2}"),
                F.to_date(F.substring(lastmod, 1, 10), "yyyy-MM-dd"),
            ).alias("lastmod_date"),
            field(F.col("_e"), "changefreq").alias("changefreq"),
            F.when(
                prio.rlike(r"^[0-9]*\.?[0-9]+$"), prio.cast("double")
            ).alias("priority"),
            "is_index",
        )
        .filter(F.col("url").isNotNull())
    )
