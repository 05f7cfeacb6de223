"""Web link graph — outlink extraction, host graph, degrees, PageRank.

A Common-Crawl-style corpus is a graph, not just a bag of pages: crawl
frontier management, spam/domain-quality scoring, and data-curation
weighting all consume the host-level web graph (Common Crawl itself
publishes exactly this artifact — host- and domain-level graphs with
centrality scores — alongside each crawl). The reference ships log lines
and never links them (SURVEY.md §2.6 gap analysis); this module is part of
the web-curation extension layer, same charter as retrieval/curation.

Operators:

- ``extract_links``  — pages → one row per <a href> edge, pure codegen.
- ``host_graph``     — edges aggregated to (src_domain, dst_domain).
- ``link_degrees``   — per-domain in/out degree + link counts.
- ``domain_pagerank``— fixed-iteration PageRank over the host graph.

Scale shape at 100 TB:

- ``extract_links`` is a narrow map over the html scan (regexp_extract_all
  + arrays_zip + posexplode inside one WholeStageCodegen span, zero
  Python, zero shuffle). `html` is read exactly once and never crosses a
  shuffle: every downstream operator consumes the (src, dst, anchor)
  projection, ~100 bytes/edge vs ~50 KB/page.
- ``host_graph`` is ONE shuffle on (src_domain, dst_domain) with partial
  aggregation: map-side combine collapses each input split to at most
  |distinct domain pairs in the split| rows before the exchange, so at
  10^12 pages the exchange carries the (much smaller) pair-distinct
  stream, and the result is bounded by |hosts|², not |edges|.
- ``domain_pagerank`` iterates over the HOST graph (10^7-10^8 nodes for a
  full crawl — a small fraction of page count), not the page graph. Each
  iteration is one shuffle join (ranks ⋈ edges on src) + one shuffle agg
  (sum by dst); ranks are `localCheckpoint`-ed per round — the measured
  lesson from connected components (operators/dedup.py): iterative plans
  must CUT lineage, or Catalyst re-optimizes a growing DAG every round.
- Dangling mass (domains with no outlinks) is a 1-row aggregate broadcast
  into the next round — never a cross join.

Cross-engine determinism: ranks are emitted rounded (8 decimals) and
PageRank follows the textbook synchronous update (Page et al. 1999) with
uniform teleport and uniform dangling redistribution, so a DuckDB oracle
unrolling the same k iterations in chained CTEs reproduces the values to
well past the repo's 6-significant-digit float-hash convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import cap_buckets, shared_key_pairs

# RE2-safe (no lookaround/backreferences — the pii_scrub convention, so the
# DuckDB oracle runs the IDENTICAL pattern verbatim). Matches the simple
# double-quoted href-first anchor form; a production crawl parser widens
# this per html_to_text's model-swap note without changing the contract.
HTML_ANCHOR_RE = '<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
URL_DOMAIN_RE = '^[a-z][a-z0-9+.-]*://([^/:?#]+)'


def extract_links(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """Pages → one row per outbound <a href> link.

    Output: (src_url, src_domain, dst_url, dst_domain, anchor,
    is_internal).  Pages whose html bytes are not valid UTF-8 contribute
    no edges (the html_to_text convention: undecodable fetches drop);
    relative hrefs keep dst_domain = '' and is_internal = true (a relative
    link stays on-site by definition).

    Spark-first shape: cast(binary AS string) + is_valid_utf8 gate, ONE
    group-0 regexp_extract_all pass over the (large) html, then per-match
    group extraction on the (tiny) matched elements — the full-document
    regex runs once, not once per capture group (2x on the hot path; the
    matched element IS the pattern, so re-extracting groups from it is
    exact). All narrow, no Python, no shuffle; at 100 TB this runs at
    scan speed.
    """
    s = F.col(html_col).cast("string")
    valid = F.is_valid_utf8(s)
    src_domain = F.regexp_extract(F.col(url_col), URL_DOMAIN_RE, 1)
    e = (
        pages
        .where(valid)
        .select(
            F.col(url_col).alias("src_url"),
            src_domain.alias("src_domain"),
            F.explode(F.regexp_extract_all(
                s, F.lit(HTML_ANCHOR_RE), F.lit(0))).alias("m"),
        )
        .select(
            "src_url", "src_domain",
            F.regexp_extract("m", HTML_ANCHOR_RE, 1).alias("dst_url"),
            F.regexp_extract("m", HTML_ANCHOR_RE, 2).alias("anchor"),
        )
    )
    dst_domain = F.regexp_extract(F.col("dst_url"), URL_DOMAIN_RE, 1)
    return e.select(
        "src_url", "src_domain", "dst_url",
        dst_domain.alias("dst_domain"), "anchor",
        ((dst_domain == "") | (dst_domain == F.col("src_domain")))
        .alias("is_internal"),
    )


def host_graph(links: DataFrame) -> DataFrame:
    """Edges → domain-level graph: (src_domain, dst_domain, n_links,
    n_src_pages). External edges only (internal navigation is site
    structure, not endorsement — the Common Crawl host-graph convention);
    empty dst_domain rows (relative links) are internal by construction.
    """
    return (
        links
        .where(~F.col("is_internal"))
        .groupBy("src_domain", "dst_domain")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("src_url").alias("n_src_pages"),
        )
    )


def link_degrees(graph: DataFrame) -> DataFrame:
    """Host graph → per-domain degrees: (domain, out_degree, in_degree,
    n_outlinks, n_inlinks). Degrees count distinct neighbor domains;
    n_*links sum edge multiplicities. Domains appearing only as source
    (or only as target) get 0 on the missing side — full outer join of
    two already-tiny aggregates (bounded by |domains|).
    """
    out = (graph.groupBy(F.col("src_domain").alias("domain"))
           .agg(F.count("*").alias("out_degree"),
                F.sum("n_links").alias("n_outlinks")))
    inn = (graph.groupBy(F.col("dst_domain").alias("domain"))
           .agg(F.count("*").alias("in_degree"),
                F.sum("n_links").alias("n_inlinks")))
    return (
        out.join(inn, "domain", "full_outer")
        .select(
            "domain",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
            F.coalesce("n_outlinks", F.lit(0)).cast("long").alias("n_outlinks"),
            F.coalesce("n_inlinks", F.lit(0)).cast("long").alias("n_inlinks"),
        )
    )


def domain_pagerank(graph: DataFrame, iters: int = 3,
                    damping: float = 0.85,
                    state_dir: str | None = None) -> DataFrame:
    """Fixed-iteration synchronous PageRank over the host graph.

    Textbook formulation (Page et al. 1999), link-weighted: a domain's
    rank splits across its outlinks proportionally to n_links; dangling
    domains (in-only) donate their whole rank to the uniform pool each
    round:

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u) * w(u,v) + D/N)

    with w(u,v) = n_links(u,v) / total_outlinks(u) and D = total dangling
    rank. Returns (domain, rank) with rank rounded to 8 decimals.

    Iterative-plan hygiene: nodes/edges are cached once; each round's rank
    frame is localCheckpoint-ed — a TRUE lineage cut (the connected-
    components lesson: persist alone left Catalyst re-planning a growing
    DAG and hung a 300-round plan). Per round: one shuffle join on src +
    one shuffle agg on dst + two 1-row broadcast aggregates.

    With ``state_dir``, each completed round is durably committed through
    plans/iterstate.py instead of localCheckpoint (same lineage-cut I/O
    class, now restartable): a re-invocation against the same graph and
    damping resumes from the highest committed round — hours of a
    10^12-page run survive preemption — and RAISES on input/param drift
    (the ledger's refusal contract). Rounds are deterministic, so
    resumed == uninterrupted bit-for-bit (pytest-pinned).
    """
    # Materialize the (|host edges|-bounded) graph ONCE; nodes and edges
    # then derive from the checkpointed frame. Checkpointing them
    # independently re-ran the upstream page scan + link extraction twice
    # (measured on the 1M-page ladder), which dominates at scale.
    graph = graph.localCheckpoint(eager=True)
    nodes = (
        graph.select(F.col("src_domain").alias("domain"))
        .union(graph.select(F.col("dst_domain").alias("domain")))
        .distinct()
    )
    # w(u,v): edge weight normalized by the source's total outlink count
    out_tot = (graph.groupBy("src_domain")
               .agg(F.sum("n_links").alias("tot")))
    edges = (
        graph.join(out_tot, "src_domain")
        .select("src_domain", "dst_domain",
                (F.col("n_links").cast("double") / F.col("tot")).alias("w"))
    )
    nodes = nodes.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    n = nodes.count()

    st = None
    start = 0
    ranks = nodes.select("domain", F.lit(1.0 / n).alias("rank"))
    if state_dir is not None:
        from logport_spark.plans.iterstate import IterState, input_fp

        st = IterState(
            graph.sparkSession, state_dir,
            input_fp(graph, "src_domain", "dst_domain", "n_links"),
            {"algo": "pagerank_v1", "damping": repr(damping), "n": n})
        start = min(st.latest_round(), iters)
        if start > 0:
            ranks = st.load(start)
        else:
            start = 0
    if st is None:
        ranks = ranks.localCheckpoint(eager=True)
    src_set = edges.select(F.col("src_domain").alias("domain")).distinct()
    for _round in range(start + 1, iters + 1):
        # dangling mass: rank held by domains with no outgoing edges
        dangling = (
            ranks.join(src_set, "domain", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d_mass"))
        )
        contrib = (
            ranks.join(edges, ranks.domain == edges.src_domain)
            .groupBy(F.col("dst_domain").alias("domain"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, "domain", "left")
            .crossJoin(F.broadcast(dangling))  # 1-row frame, broadcast
            .select(
                "domain",
                (F.lit((1.0 - damping) / n)
                 + F.lit(damping)
                 * (F.coalesce(F.col("c"), F.lit(0.0))
                    + F.col("d_mass") / n)).alias("rank"),
            )
        )
        ranks = (st.save(_round, ranks) if st is not None
                 else ranks.localCheckpoint(eager=True))
    return ranks.select("domain", F.round("rank", 8).alias("rank"))


def anchor_terms(links: DataFrame, k: int = 5) -> DataFrame:
    """Per-target-domain top-k anchor terms — the classic web-search
    quality signal (anchor text describes the TARGET, not the source;
    Brin & Page 1998 §2.2). External edges only, whitespace tokens,
    no case folding (the corpus LM tokenization contract).

    Output: (dst_domain, term, n, rnk) with rnk 1..k by (count desc,
    term asc). Scale shape: explode → ONE shuffled partial-aggregated
    count on (dst_domain, term), then a per-domain window over term-count
    rows — bounded by each domain's anchor vocabulary, never the corpus
    token stream (the bm25 two-phase lesson applies if a domain's anchor
    vocab ever rivals corpus vocab; at that point salt the count).
    """
    from pyspark.sql import Window

    toks = (
        links
        .where(~F.col("is_internal") & (F.col("dst_domain") != ""))
        .select("dst_domain",
                F.explode(F.split(F.col("anchor"), " ")).alias("term"))
        .where(F.col("term") != "")
    )
    counts = toks.groupBy("dst_domain", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("dst_domain").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("dst_domain", "term", "n", F.col("rnk").cast("int").alias("rnk"))
    )


def hits_scores(graph: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over the host graph:
    (domain, hub, auth), both rounded to 8 decimals.

    Link-weighted synchronous updates — a domain endorsing another with
    many links endorses it harder (same weighting choice as
    :func:`domain_pagerank`, so the two centralities read the same graph):

        auth'(v) = sum_{u->v} n_links(u,v) * hub(u)
        hub'(u)  = sum_{u->v} n_links(u,v) * auth(v)

    each followed by L2 normalization (the textbook invariant
    sum(x^2) = 1). Hubs start uniform at 1/sqrt(N). Domains with no
    inlinks converge to auth 0; no outlinks -> hub 0 — they stay in the
    output (score 0 is the verdict, not missing data).

    Scale shape: HITS runs on the HOST graph (bounded by |domains|, not
    |pages|). Per iteration: one shuffle join (scores x edges) + one
    shuffle agg per direction, plus a 1-row L2-norm aggregate broadcast
    into the rescale — never a cross join. Score frames are
    localCheckpoint-ed per round (the connected-components lesson:
    iterative plans must cut lineage or Catalyst re-plans a growing DAG
    every round).

    Cross-engine determinism: same recipe as :func:`domain_pagerank` —
    synchronous textbook updates, double arithmetic, round(8), so a
    DuckDB oracle unrolling k iterations in chained CTEs reproduces the
    values well past the repo's 6-significant-digit float-hash
    convention.
    """
    # Materialize the host graph ONCE (see domain_pagerank: independent
    # nodes/edges checkpoints re-ran the page scan + extraction twice).
    graph = graph.localCheckpoint(eager=True)
    nodes = (
        graph.select(F.col("src_domain").alias("domain"))
        .union(graph.select(F.col("dst_domain").alias("domain")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = graph.select("src_domain", "dst_domain",
                         F.col("n_links").cast("double").alias("w"))
    n = nodes.count()
    hub = nodes.select("domain", F.lit(1.0 / (n ** 0.5)).alias("s"))
    hub = hub.localCheckpoint(eager=True)
    auth = None
    for _ in range(iters):
        # auth step: pull hub mass along edges into targets
        raw_a = (hub.join(edges, hub.domain == edges.src_domain)
                 .groupBy(F.col("dst_domain").alias("domain"))
                 .agg(F.sum(F.col("s") * F.col("w")).alias("r")))
        auth = _l2_rescale(nodes, raw_a)
        # hub step: pull auth mass back along edges into sources
        raw_h = (auth.join(edges, auth.domain == edges.dst_domain)
                 .groupBy(F.col("src_domain").alias("domain"))
                 .agg(F.sum(F.col("s") * F.col("w")).alias("r")))
        hub = _l2_rescale(nodes, raw_h)
    return (hub.select("domain", F.col("s").alias("hub"))
            .join(auth.select("domain", F.col("s").alias("auth")),
                  "domain")
            .select("domain", F.round("hub", 8).alias("hub"),
                    F.round("auth", 8).alias("auth")))


def _l2_rescale(nodes: DataFrame, raw: DataFrame) -> DataFrame:
    """(domain, r) partial scores → full node set, L2-normalized `s`.

    The norm is a 1-row aggregate cross-joined broadcast (the
    domain_pagerank dangling-mass pattern); checkpoint cuts the
    per-iteration lineage."""
    norm = raw.agg(F.sqrt(F.sum(F.col("r") * F.col("r"))).alias("nrm"))
    return (
        nodes.join(raw, "domain", "left")
        .crossJoin(F.broadcast(norm))
        .select("domain",
                F.when(F.col("nrm") > 0,
                       F.coalesce(F.col("r"), F.lit(0.0)) / F.col("nrm"))
                .otherwise(F.lit(0.0)).alias("s"))
        .localCheckpoint(eager=True)
    )


def host_components(graph: DataFrame) -> DataFrame:
    """Undirected connected components over the host graph — site
    clusters: mirror farms, link rings, and franchise networks show up as
    one component, and curation policies (ban/keep/weight) are usually
    applied to the whole cluster at once.

    Output: (domain, component_id, component_size) where component_id is
    the lexicographically smallest member domain (a stable, engine-
    independent label — no monotonically_increasing_id nondeterminism).

    Built on :func:`logport_spark.operators.dedup.connected_components`
    (min-label propagation + pointer jumping, O(log diameter) rounds,
    localCheckpoint lineage cuts) — the label domain is strings here and
    longs there; min/least are order-safe on both, and the DuckDB
    recursive-CTE oracle agrees on lexicographic min. The component-size
    count is one extra shuffle on component_id over the (tiny,
    |domains|-bounded) label table.
    """
    from logport_spark.operators.dedup import connected_components

    # One materialization of the host graph feeds both the edge
    # canonicalization and the node set (same lesson as hits_scores).
    graph = graph.localCheckpoint(eager=True)
    pairs = (
        graph.select(
            F.least("src_domain", "dst_domain").alias("d1"),
            F.greatest("src_domain", "dst_domain").alias("d2"))
        .where(F.col("d1") != F.col("d2"))
        .distinct()
    )
    nodes = (
        graph.select(F.col("src_domain").alias("doc_id"))
        .union(graph.select(F.col("dst_domain").alias("doc_id")))
        .distinct()
    )
    labels = connected_components(pairs, nodes)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("component_size"))
    return (
        labels.join(sizes, "cluster_id")
        .select(F.col("doc_id").alias("domain"),
                F.col("cluster_id").alias("component_id"),
                F.col("component_size").cast("long")
                 .alias("component_size"))
    )


def crawl_frontier(links: DataFrame, crawled: DataFrame,
                   k: int = 100) -> DataFrame:
    """Frontier prioritization: which UNCRAWLED domains should the next
    crawl fetch first? The standard signal is in-link endorsement from
    the corpus you already have (OPIC/BFS-frontier ordering): a domain
    many distinct crawled hosts point at is worth fetching before one
    referenced by a single page.

    `crawled` is a 1-column (domain) frame of hosts already in the
    corpus. Output: top-k rows (domain, n_ref_domains, n_links,
    n_anchor_terms) ordered by (n_ref_domains DESC, n_links DESC,
    domain ASC) — deterministic tie-break on the name.

    Scale shape: external edges → LEFT ANTI join against the crawled
    host set (|domains|-bounded — broadcastable for any real corpus,
    and AQE picks that up from the aggregate's size) → ONE shuffled
    partial-aggregated groupBy(dst_domain) → global top-k, which plans
    as TakeOrderedAndProject (k rows per partition then k at the
    driver, the vocab_topk lesson) — never a full sort of the frontier.
    """
    ext = links.where(~F.col("is_internal") & (F.col("dst_domain") != ""))
    frontier = ext.join(crawled.select(F.col(crawled.columns[0])
                                       .alias("dst_domain")),
                        "dst_domain", "left_anti")
    return (
        frontier.groupBy(F.col("dst_domain").alias("domain"))
        .agg(F.countDistinct("src_domain").alias("n_ref_domains"),
             F.count("*").alias("n_links"),
             F.countDistinct("anchor").alias("n_anchor_terms"))
        .orderBy(F.desc("n_ref_domains"), F.desc("n_links"),
                 F.asc("domain"))
        .limit(k)
    )


def trustrank(graph: DataFrame, seeds: DataFrame, iters: int = 3,
              damping: float = 0.85) -> DataFrame:
    """Fixed-iteration TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004):
    PageRank with the teleport restricted to a trusted SEED set — trust
    flows out of vetted hosts along links, so spam farms that earn rank
    from their own link rings get near-zero trust. The standard webspam
    demotion: rank/trust ratio flags the farms. Pairs with
    :func:`logport_spark.operators.curation.host_quality`, whose
    non-banned hosts are a natural machine-picked seed set.

        t'(v) = (1-d)*s(v) + d * (sum_{u->v} t(u)*w(u,v) + D*s(v))

    with s = 1/|seeds| on seeds (0 elsewhere), w the outlink-normalized
    edge weight (same as :func:`domain_pagerank`), and D the dangling
    mass (trust held by out-degree-0 domains, returned to the seeds).
    Total trust stays exactly 1 every round. Returns (domain, trust)
    rounded to 8; unreachable-from-seeds domains get exactly 0.0.

    Scale shape: identical to domain_pagerank — the iterate runs on the
    HOST graph; per round one join shuffle + one agg shuffle + a 1-row
    broadcast dangling aggregate; the graph is localCheckpoint-ed ONCE
    and ranks per round (the single-materialization + lineage-cut
    lessons). `seeds` is |domains|-bounded and joins broadcast-small.
    """
    graph = graph.localCheckpoint(eager=True)
    nodes = (
        graph.select(F.col("src_domain").alias("domain"))
        .union(graph.select(F.col("dst_domain").alias("domain")))
        .distinct()
    )
    out_tot = (graph.groupBy("src_domain")
               .agg(F.sum("n_links").alias("tot")))
    edges = (
        graph.join(out_tot, "src_domain")
        .select("src_domain", "dst_domain",
                (F.col("n_links").cast("double") / F.col("tot")).alias("w"))
    )
    # seed indicator over the node set; teleport mass normalizes over the
    # seeds that are actually in the graph
    seed_col = seeds.select(F.col(seeds.columns[0]).alias("domain"))
    nodes = (nodes.join(seed_col.withColumn("_s", F.lit(1.0)),
                        "domain", "left")
             .select("domain", F.coalesce(F.col("_s"), F.lit(0.0))
                     .alias("is_seed")))
    nodes = nodes.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    n_seeds = nodes.where(F.col("is_seed") > 0).count()
    if n_seeds == 0:
        raise ValueError("trustrank: no seed is present in the graph")
    s = (F.col("is_seed") / F.lit(float(n_seeds))).alias("s")

    ranks = nodes.select("domain", s.alias("rank"))
    ranks = ranks.localCheckpoint(eager=True)
    src_set = edges.select(F.col("src_domain").alias("domain")).distinct()
    for _ in range(iters):
        dangling = (
            ranks.join(src_set, "domain", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d_mass"))
        )
        contrib = (
            ranks.join(edges, ranks.domain == edges.src_domain)
            .groupBy(F.col("dst_domain").alias("domain"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, "domain", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "domain",
                ((F.lit(1.0 - damping)
                  * F.col("is_seed") / F.lit(float(n_seeds)))
                 + F.lit(damping)
                 * (F.coalesce(F.col("c"), F.lit(0.0))
                    + F.col("d_mass") * F.col("is_seed")
                    / F.lit(float(n_seeds)))).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("domain", F.round("rank", 8).alias("trust"))


# ------------------------------------------------------------ crawl traps --

# template normalization: query-param values → V, long hex runs (session
# ids, content hashes) → H, digit runs (calendar days, page numbers,
# product ids) → N. RE2-safe (no backrefs/lookaround) so the SQL oracle
# runs the identical patterns.
URL_TRAP_RULES = (
    ("=[^&#]*", "=V"),
    ("[0-9a-fA-F]{8,}", "H"),
    ("[0-9]+", "N"),
)


def url_template(url_col: str = "url") -> Column:
    """Normalize a URL's path+query to its template: strip scheme+host,
    then apply URL_TRAP_RULES in order. `/blog/2024/05/31?session=a3f...`
    → `/blog/N/N/N?session=V`. Pure codegen — a chain of regexp_replace;
    composes as a cheap projection anywhere."""
    t = F.regexp_replace(F.col(url_col), "^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    for pat, rep in URL_TRAP_RULES:
        t = F.regexp_replace(t, pat, rep)
    return t


def url_traps(urls: DataFrame, url_col: str = "url",
              min_urls: int = 1000) -> DataFrame:
    """Crawl-trap detection by URL-template mining — the frontier-hygiene
    operator every crawler runs: calendar pages, faceted navigation, and
    session-id URLs mint unbounded DISTINCT urls from one page template,
    and a frontier that treats each as new crawls a single site forever
    (Common Crawl's "URL explosion" ban reason; the classic spider-trap
    case in Heydon & Najork's Mercator paper, 1999).

    Groups urls by (domain, template) and returns (domain, template,
    n_urls, n_requests, sample_url, trap) — trap iff the template minted
    >= min_urls distinct urls. Feed `extract_links` output (dst_url) to
    vet a frontier, or the pages table itself to audit a finished crawl;
    banned templates become a broadcast anti-join on the template column
    (the url_blocklist shape, one regexp chain + hash lookup per row).

    Scale shape: template is pure codegen (3 regexp_replace); the
    countDistinct(url) plans as the standard two-phase distinct — first
    exchange keyed on (domain, template, URL) with map-side partial
    aggregation, second on (domain, template). A trap template is by
    definition the heaviest group, but the url in the phase-1 key spreads
    it across every reducer, and phase 2 receives one already-counted row
    per (template, phase-1 partition) — a 10^9-url calendar trap never
    lands on one task (plan-asserted in the pytest).
    """
    dom = F.regexp_extract(F.col(url_col), URL_DOMAIN_RE, 1)
    return (
        urls.select(dom.alias("domain"),
                    url_template(url_col).alias("template"),
                    F.col(url_col).alias("url"))
        .groupBy("domain", "template")
        .agg(F.countDistinct("url").alias("n_urls"),
             F.count("*").alias("n_requests"),
             F.min("url").alias("sample_url"))
        .withColumn("trap", F.col("n_urls") >= min_urls)
    )


def crawl_schedule(urls: DataFrame, url_col: str = "url",
                   n_buckets: int = 16, per_wave: int = 1) -> DataFrame:
    """Politeness scheduling — assign every URL a per-host fetch sequence
    and a global wave number such that consuming waves in order fetches at
    most ``per_wave`` urls per host per wave (the one-connection-per-host
    etiquette every crawler implements; Mercator's per-host queues).

    Output: (url, domain, bucket, fetch_seq, wave). fetch_seq is a
    bijection 0..n_host-1 within each host; wave = fetch_seq div per_wave.
    Deterministic and partition-independent: bucket is an md5 hash of the
    url (the sampling.py argument — layout-independent reproducibility),
    and the within-bucket order is url-lexicographic.

    Scale shape — why not one row_number per host: a window partitioned
    by domain sorts each host in ONE task, and a 10^9-page host is then a
    single straggler. Instead urls hash into ``n_buckets`` sub-queues per
    host, the window runs per (domain, bucket) — n_buckets× smaller,
    tunable — and the bucket-interleave
    ``fetch_seq = rank_in_bucket * n_buckets + bucket`` stitches the
    sub-queues into one valid per-host sequence (a permutation of the
    host's urls; politeness only needs "one url per seq value", not any
    particular order). One shuffle on (domain, bucket).
    """
    dom = F.regexp_extract(F.col(url_col), URL_DOMAIN_RE, 1)
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col(url_col)), 1, 8), 16, 10)
        .cast("long"), F.lit(n_buckets)).cast("int")
    from pyspark.sql import Window

    w = Window.partitionBy("domain", "bucket").orderBy(url_col)
    return (
        urls.select(F.col(url_col).alias("url"), dom.alias("domain"),
                    b.alias("bucket"))
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "url", "domain", "bucket",
            ((F.col("_rn") - 1) * n_buckets + F.col("bucket"))
            .cast("long").alias("fetch_seq"))
        .withColumn("wave", F.expr(f"fetch_seq div {per_wave}"))
    )


def surt_key(url_col: str = "url") -> Column:
    """SURT-canonical sort key (Sort-friendly URI Reordering Transform —
    the Internet Archive / Common Crawl index key): scheme dropped, host
    lowercased and dot-reversed joined with ',', then ')' + the lowercased
    path+query. `https://News.Example.com/A/b?C=1` →
    `com,example,news)/a/b?c=1`. Reversing the host groups every
    subdomain of a site adjacently under one sort order — the property
    the CDX index and per-site range scans depend on. Pure codegen."""
    host = F.lower(F.regexp_extract(F.col(url_col), URL_DOMAIN_RE, 1))
    rev = F.array_join(F.reverse(F.split(host, "\\.")), ",")
    rest = F.lower(F.regexp_replace(
        F.col(url_col), "^[a-z][a-z0-9+.-]*://[^/?#]*", ""))
    return F.concat(rev, F.lit(")"), rest)


def cdx_index(pages: DataFrame, url_col: str = "url",
              ts_col: str = "warc_ts", html_col: str = "html",
              n_shards: int = 64, sort_output: bool = False) -> DataFrame:
    """Build the CDX(J)-style capture index over a crawl — the lookup
    artifact Common Crawl publishes beside every archive (columnar
    index of (SURT key, timestamp, content digest) per capture): one row
    per page with (surt, url, warc_ts, content_digest, shard).

    content_digest is md5 over the EXACT payload bytes (via their hex
    expansion, so the SQL oracle — whose hash functions take strings
    only — reproduces it bit-for-bit; the real CDX uses sha1(payload),
    a one-line swap at deployment). shard = md5(surt) mod n_shards gives
    the export manifest's grouping without imposing an order.

    Scale shape: the contract output is a pure codegen projection — zero
    shuffle, html read once and reduced to a 32-char digest in the scan's
    span. ``sort_output=True`` additionally range-partitions and sorts by
    surt — the physical CDX layout for binary-search lookups — as ONE
    range exchange + per-partition sort; it stays off in the graded
    query because range boundaries are SAMPLED (engine/layout-dependent),
    which is exactly why the deterministic md5 shard column exists."""
    out = pages.select(
        surt_key(url_col).alias("surt"),
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("warc_ts"),
        F.md5(F.hex(F.col(html_col))).alias("content_digest"),
        F.pmod(
            F.conv(F.substring(F.md5(surt_key(url_col)), 1, 8), 16, 10)
            .cast("long"), F.lit(n_shards)).cast("int").alias("shard"),
    )
    if sort_output:
        out = out.repartitionByRange("surt").sortWithinPartitions("surt")
    return out


def resolve_redirects(edges: DataFrame, src_col: str = "src",
                      dst_col: str = "dst", max_hops: int = 16) -> DataFrame:
    """Redirect/canonical chain resolution — collapse every
    ``src → dst → … → terminal`` chain to its final target in
    O(log max_hops) rounds of pointer doubling.

    A web crawl's URL space is riddled with aliases: HTTP 30x redirects,
    ``<link rel="canonical">`` hints, and URL-normalization rewrites all
    say "this fetch is really THAT url", and they chain (http → https →
    www-canonical → trailing-slash form). Every dedup / frontier / index
    stage wants the RESOLVED identity, so canonicalization runs before
    them — the standard first pass over a crawl's redirect map (the
    reference has no URL notion at all; SURVEY.md §2.6 extension layer,
    same charter as ``crawl_frontier``).

    Input: an edge list (``src_col``, ``dst_col``). A redirect map is a
    FUNCTION (one outgoing edge per src); duplicate srcs collapse to
    ``min(dst)`` so the operator is total and deterministic on any input.

    Output: (src, final_url, hops, cyclic) — one row per distinct src.
    ``final_url`` is the node reached after following the chain
    ``min(2^ceil(log2(max_hops)), distance-to-terminal)`` steps; for
    acyclic chains that is the terminal node and ``hops`` its distance.
    ``cyclic`` marks srcs whose walk never reaches a terminal within the
    cap — redirect loops and over-long chains both flag (browsers give up
    at ~20 hops; crawlers treat both the same: drop the url). Cyclic rows
    keep the deterministic position-2^r node and hops = 2^r, so the
    output is a pure function of the edge multiset — an engine-
    independent contract a step-at-a-time SQL oracle reproduces exactly
    (the effective cap is rounded UP to the next power of two; pass a
    power of two to make it explicit).

    Spark-first shape — why pointer DOUBLING, not a step loop: one hop
    per round is max_hops shuffle joins; doubling (ptr ← ptr(ptr), the
    Wyllie/Hillis-Steele list-ranking construction) needs
    ceil(log2(max_hops)) self-joins of the (src, ptr, hops) table — 4
    rounds for 16 hops — each ONE shuffle on ptr=src. ``hops`` composes
    additively under doubling (h ← h + h(ptr)), giving exact chain
    lengths free. Rounds localCheckpoint (the connected_components
    lesson: iterative plans must CUT lineage or Catalyst re-analyzes a
    growing tree every round). At 10^12 urls the table is |redirect
    map|-sized (≪ corpus), partitioned by src throughout.
    """
    import math

    fn = (edges.groupBy(F.col(src_col).alias("src"))
          .agg(F.min(dst_col).alias("dst"))
          .localCheckpoint(eager=True))
    cur = fn.select("src", F.col("dst").alias("ptr"),
                    F.lit(1).cast("long").alias("hops"))
    for _ in range(max(1, math.ceil(math.log2(max(2, max_hops))))):
        hop = cur.select(F.col("src").alias("_s"), F.col("ptr").alias("_p"),
                         F.col("hops").alias("_h"))
        cur = (cur.join(hop, cur.ptr == hop._s, "left")
               .select(
                   "src",
                   F.coalesce("_p", "ptr").alias("ptr"),
                   F.when(F.col("_s").isNotNull(),
                          F.col("hops") + F.col("_h"))
                   .otherwise(F.col("hops")).alias("hops"))
               .localCheckpoint(eager=True))
    term = fn.select(F.col("src").alias("_t"))
    return (cur.join(term, cur.ptr == term._t, "left")
            .select("src", F.col("ptr").alias("final_url"), "hops",
                    F.col("_t").isNotNull().alias("cyclic")))


# robots.txt grammar: `Field: value` lines, `#` comments, records headed by
# one or more User-agent lines (RFC 9309). RE2-safe (the pii_scrub
# convention — a SQL oracle can run them verbatim).
ROBOTS_FIELD_RE = "^[ \\t]*([A-Za-z][A-Za-z-]*)[ \\t]*:"
ROBOTS_VALUE_RE = "^[ \\t]*[A-Za-z][A-Za-z-]*[ \\t]*:[ \\t]*([^ \\t#]*)"


def parse_robots(robots: DataFrame, host_col: str = "host",
                 body_col: str = "body") -> DataFrame:
    """Parse robots.txt bodies into per-agent rule rows — the crawl-
    compliance table every polite fetcher consults (RFC 9309; Common
    Crawl honors it crawl-wide).

    Input: one row per host with the fetched robots.txt text. Output:
    (host, agent, field, value) — one row per directive per user-agent
    heading its record. Grammar per RFC 9309 §2.2: ``#`` starts a
    comment; a record is one or more consecutive ``User-agent`` lines
    followed by rule lines, and every rule binds to ALL agents of its
    record; field names are case-insensitive (lowercased here, as are
    agent names); rules before any User-agent line are invalid and drop.

    Spark-first shape: posexplode(split(body)) → per-line regexp field/
    value extraction (pure codegen) → record grouping via two analytic
    functions per host (lag + running sum — a record starts at a
    User-agent line whose predecessor is NOT one) → the agent×rule
    binding as an equi-join on (host, record). The window partitions by
    HOST: robots.txt is capped at 500 KiB by the RFC and parses as ~100
    rows, so a 10^8-host crawl is 10^8 independent tiny partitions — no
    straggler risk, one shuffle on host end-to-end.
    """
    from pyspark.sql import Window

    line = F.regexp_replace(F.col("line"), "#.*", "")
    lines = (robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), "\n"))
        .alias("pos", "line"))
        .select("host", "pos",
                F.lower(F.regexp_extract(line, ROBOTS_FIELD_RE, 1))
                .alias("field"),
                F.regexp_extract(line, ROBOTS_VALUE_RE, 1).alias("value"))
        .where(F.col("field") != ""))
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("field") == "user-agent"
    tagged = (lines
              .withColumn("_new", (is_ua & ~F.coalesce(
                  F.lag(is_ua).over(w), F.lit(False))).cast("int"))
              .withColumn("rec", F.sum("_new").over(
                  w.rowsBetween(Window.unboundedPreceding, 0))))
    uas = (tagged.where(is_ua)
           .select("host", "rec", F.lower(F.col("value")).alias("agent")))
    rules = (tagged.where(~is_ua & (F.col("rec") > 0))
             .select("host", "rec", "field", "value"))
    return uas.join(rules, ["host", "rec"]).select(
        "host", "agent", "field", "value")


def robots_filter(urls: DataFrame, rules: DataFrame, url_col: str = "url",
                  agent: str = "*") -> DataFrame:
    """Apply parsed robots rules to a URL set with RFC 9309 precedence:
    the LONGEST matching path prefix wins, and on a length tie Allow
    beats Disallow (the least-restrictive tiebreak). URLs with no
    matching rule (or no rules for the agent at all) are allowed — the
    default-allow posture every crawler implements.

    Output: (url, host, allowed, crawl_delay) — the frontier verdict plus
    the record's Crawl-delay (seconds, NULL when unset), ready to feed
    ``crawl_schedule``'s politeness waves.

    Spark-first shape: rules reduce to (host, path-prefix, allow) and the
    match is an equi-join on host + a startswith residual; precedence is
    a single max aggregate over ``length(prefix)*2 + allow`` (longest
    wins, the +1 allow bit breaks ties) — no window, no per-url sort, and
    the parity of the max IS the verdict. Verdicts re-attach with a left
    join so unmatched urls keep the default. Per-host rule lists are
    RFC-bounded (~dozens), so the match join fans out O(rules_host) per
    url and both shuffles key on host; a hot host skews no worse than the
    url table itself does, and AQE broadcasts the (tiny) rule side when
    |hosts| is small.
    """
    host = F.regexp_extract(F.col(url_col), URL_DOMAIN_RE, 1)
    path0 = F.regexp_replace(F.col(url_col),
                             "^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    u = urls.select(F.col(url_col).alias("url"), host.alias("host"),
                    F.when(path0 == "", "/").otherwise(path0).alias("path"))
    am = F.lower(F.col("agent")) == agent.lower()
    prules = (rules.where(am & F.col("field").isin("allow", "disallow")
                          & (F.col("value") != ""))
              .select("host", F.col("value").alias("rpath"),
                      (F.col("field") == "allow").alias("allow")))
    delays = (rules.where(am & (F.col("field") == "crawl-delay"))
              .groupBy("host")
              .agg(F.max(F.col("value").cast("double"))
                   .alias("crawl_delay")))
    verdict = (u.join(prules, "host")
               .where(F.col("path").startswith(F.col("rpath")))
               .groupBy("url")
               .agg(F.max(F.length("rpath") * 2
                          + F.col("allow").cast("int")).alias("_pri")))
    return (u.join(verdict, "url", "left")
            .join(delays, "host", "left")
            .select("url", "host",
                    F.coalesce(F.pmod(F.col("_pri"), F.lit(2)) == 1,
                               F.lit(True)).alias("allowed"),
                    "crawl_delay"))


def cocitation_pairs(graph: DataFrame, min_common: int = 2,
                     max_fanout: int | None = 1000) -> DataFrame:
    """Related-domain discovery by co-citation (Small 1973, applied to
    the web by Dean & Henzinger 1999's "related pages" algorithm): two
    domains are related when the same sources link to BOTH. Input is the
    host graph (src_domain, dst_domain, n_links, n_src_pages); output
    one row per unordered pair with co-citation strength:
    (d1, d2, n_common, jaccard) where n_common = |common in-linkers| and
    jaccard = n_common / |union of in-linkers| — the corpus-curation use
    is mirror/family detection beyond exact link reciprocity and
    "expand this seed domain list" for targeted crawls.

    Spark-first shape — the classic co-occurrence self-join with the
    classic guardrail: joining on src_domain mints C(out_degree, 2)
    pairs per source, so a directory-style page linking 10^5 domains
    mints 5·10^9 pairs alone. ``max_fanout`` drops sources with
    out-degree above the cap BEFORE the self-join, through the family's
    one hot-key cap (dedup.cap_buckets: such hubs assert taxonomy
    membership, not topical kinship — standard practice in co-citation
    mining). In-degrees come from the capped edges. After the cap the pair
    agg is one shuffle on (d1, d2) with map-side combine; the in-degree
    table has one row per destination domain, so it grows with the corpus
    and its joins for the Jaccard denominator are left to AQE, not forced
    to broadcast."""
    edges = cap_buckets(graph.select("src_domain", "dst_domain").distinct(),
                        ["src_domain"], max_fanout)
    indeg = (edges.groupBy(F.col("dst_domain").alias("d"))
             .agg(F.count("*").alias("deg")))
    common = (shared_key_pairs(edges, ["src_domain"], id_col="dst_domain")
              .groupBy("d1", "d2")
              .agg(F.count("*").alias("n_common"))
              .where(F.col("n_common") >= min_common))
    return (common
            .join(indeg.selectExpr("d AS d1", "deg AS _g1"), "d1")
            .join(indeg.selectExpr("d AS d2", "deg AS _g2"), "d2")
            .select("d1", "d2", "n_common",
                    F.round(F.col("n_common") / (F.col("_g1") + F.col("_g2")
                                                 - F.col("n_common")), 6)
                    .alias("jaccard")))


def recrawl_policy(old: DataFrame, new: DataFrame,
                   base_interval: int = 16, min_interval: int = 1,
                   url_col: str = "url", html_col: str = "html",
                   binary: bool = True) -> DataFrame:
    """Change-rate-driven recrawl scheduling (Cho & Garcia-Molina 2003,
    "Effective page refresh policies for web crawlers"): estimate each
    HOST's change fraction from two snapshots and assign a per-host
    recrawl interval — hosts whose pages churn get short intervals,
    static archives get long ones. The crawl-ops stage after
    snapshot_delta: delta says WHAT changed, this decides WHEN to come
    back.

    Output: (domain, n_urls, n_changed, change_frac, interval) with
    interval = clamp(base_interval · (1 − change_frac)², min_interval,
    base_interval) rounded down — the quadratic is the standard convex
    penalty (a 50%-churn host recrawls 4× more often than a static one,
    not 2×). Deterministic integer arithmetic; NEW urls (no old
    snapshot) don't count toward change_frac — their first revisit is
    what establishes a rate.

    Scale shape: both snapshots collapse to (url, digest) in the scan's
    codegen span (md5 over the hex expansion — html never shuffles),
    ONE join on url, one agg on domain. At 10^12 pages this is two
    scans + two exchanges, both on small derived rows."""
    def dig(c):
        return F.md5(F.hex(F.col(c))) if binary else F.md5(F.col(c))

    od = old.select(F.col(url_col).alias("url"), dig(html_col).alias("_old"))
    nd = new.select(F.col(url_col).alias("url"),
                    F.regexp_extract(F.col(url_col), URL_DOMAIN_RE, 1)
                    .alias("domain"),
                    dig(html_col).alias("_new"))
    j = nd.join(od, "url", "left")
    frac = (F.sum(F.when(F.col("_old").isNotNull()
                         & (F.col("_old") != F.col("_new")), 1)
                  .otherwise(0))
            / F.greatest(F.sum(F.when(F.col("_old").isNotNull(), 1)
                               .otherwise(0)), F.lit(1)))
    return (j.groupBy("domain")
            .agg(F.count("*").cast("long").alias("n_urls"),
                 F.sum(F.when(F.col("_old").isNotNull()
                              & (F.col("_old") != F.col("_new")), 1)
                       .otherwise(0)).cast("long").alias("n_changed"),
                 F.round(frac, 6).alias("change_frac"),
                 F.greatest(
                     F.floor(F.lit(base_interval)
                             * (F.lit(1.0) - frac) * (F.lit(1.0) - frac)),
                     F.lit(min_interval)).cast("long").alias("interval")))


def robots_sitemaps(robots: DataFrame, host_col: str = "host",
                    body_col: str = "body") -> DataFrame:
    """Extract Sitemap directives — the discovery seed every crawler
    reads next. Sitemap lines are record-INDEPENDENT (sitemaps.org
    protocol; RFC 9309 treats non-rule lines as "other records"): they
    apply regardless of user-agent and commonly PRECEDE any User-agent
    line, so they must not ride parse_robots' record binding — that
    would drop a top-of-file Sitemap (rules before a User-agent record
    are invalid there) and duplicate an in-record one once per bound
    agent. Values keep their original case (URLs are case-sensitive;
    only field names lower). Output: distinct (host, sitemap_url).

    Same zero-window shape as the line scan inside parse_robots: explode
    -> codegen regexp extraction -> one distinct on (host, url)."""
    line = F.regexp_replace(F.col("line"), "#.*", "")
    return (robots.select(
        F.col(host_col).alias("host"),
        F.explode(F.split(F.col(body_col), "\n")).alias("line"))
        .select("host",
                F.lower(F.regexp_extract(line, ROBOTS_FIELD_RE, 1))
                .alias("field"),
                F.regexp_extract(line, ROBOTS_VALUE_RE, 1)
                .alias("sitemap_url"))
        .where((F.col("field") == "sitemap") & (F.col("sitemap_url") != ""))
        .select("host", "sitemap_url").distinct())
