"""Expected crawl results, computed without the engine.

* ``bfs`` runs the DuckDB recursive-CTE BFS that
  ``__spark_entry__.oracle_sql()`` pairs with the ``crawl_frontier_bfs``
  query, with the run's seed residue in place of residue 0.
* ``budgeted`` replays a crawl, optionally per-host-budgeted, in plain
  Python over the same DuckDB edge list: each superstep schedules, per host, the
  ``budget`` frontier URLs first by (depth, url_norm) and defers the
  rest, which is the ordering ``operators.politeness.schedule``
  documents. It gives the exact (url_norm, depth) set of a crawl cut
  after ``max_iterations`` supersteps.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import duckdb
import pandas as pd

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.predicates import MAX_DEPTH
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import pages as pagesrc


def _con(docs: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("documents", docs[["doc_id"]])
    return con


def host_of(i: int) -> int:
    return 0 if i % pagesrc.MEGA_HOST_MOD == 0 else i % pagesrc.N_HOSTS


def url_of(i: int) -> str:
    return f"https://host{host_of(i)}.example/page/{i}"


def bfs(docs: pd.DataFrame, residue: int) -> pd.DataFrame:
    """(url_norm, depth) of the unbudgeted crawl from ``residue``."""
    from __spark_entry__ import oracle_sql

    sql = oracle_sql()["crawl_frontier_bfs"]
    needle = f"doc_id % {pagesrc.SEED_MOD} = 0"
    if sql.count(needle) != 1:
        raise RuntimeError("crawl_frontier_bfs oracle no longer selects seeds by residue 0")
    sql = sql.replace(needle, f"doc_id % {pagesrc.SEED_MOD} = {residue}")
    return _con(docs).execute(sql).df()[["url_norm", "depth"]]


def _adjacency(docs: pd.DataFrame) -> dict[int, list[int]]:
    edges = _con(docs).execute(pagesrc.edges_sql()).df()
    adj: dict[int, list[int]] = defaultdict(list)
    for s, d in zip(edges["src"].tolist(), edges["dst"].tolist()):
        adj[s].append(d)
    return adj


def _replay(adj, ids, residue, budget, max_iterations):
    """Run the crawl; return ({doc id: depth} seen, [URLs scheduled
    per superstep])."""
    seen = {i: 0 for i in ids if i % pagesrc.SEED_MOD == residue}
    frontier = dict(seen)
    scheduled_per_step = []
    for _ in range(max_iterations):
        by_host: dict[int, list[int]] = defaultdict(list)
        for i in frontier:
            by_host[host_of(i)].append(i)
        scheduled = [
            i
            for hids in by_host.values()
            for i in sorted(hids, key=lambda i: (frontier[i], url_of(i)))[:budget]
        ]
        if not scheduled:
            break
        scheduled_per_step.append(len(scheduled))
        cand: dict[int, int] = {}
        for i in scheduled:
            d = frontier.pop(i)
            if d < MAX_DEPTH:
                for j in adj[i]:
                    cand[j] = min(cand.get(j, d + 1), d + 1)
        new = {j: d for j, d in cand.items() if j not in seen}
        seen.update(new)
        frontier.update(new)
    return seen, scheduled_per_step


def budgeted(
    docs: pd.DataFrame, residue: int, budget: int | None, max_iterations: int
) -> pd.DataFrame:
    """(url_norm, depth) of a crawl from ``residue`` cut after
    ``max_iterations`` supersteps, under a per-host ``budget`` (None:
    unbudgeted)."""
    seen, _ = _replay(
        _adjacency(docs), docs["doc_id"].tolist(), residue, budget, max_iterations
    )
    return pd.DataFrame(
        {"url_norm": [url_of(i) for i in seen], "depth": list(seen.values())}
    )


def modal_residues(
    docs: pd.DataFrame, budget: int | None, max_iterations: int
) -> list[int]:
    """Seed residues whose crawl has the most common shape: number of
    supersteps and URLs scheduled in all.

    The benchmark draws a run's residue from this class only, so every
    seed does the same number of supersteps and fetches the same number
    of pages: seeding from a residue with a deeper BFS adds a
    superstep, and under a per-host budget the residue decides how many
    hosts the frontier spreads over, so how many URLs get scheduled.
    """
    adj, ids = _adjacency(docs), docs["doc_id"].tolist()
    shape = {}
    for r in range(pagesrc.SEED_MOD):
        _, steps = _replay(adj, ids, r, budget, max_iterations)
        shape[r] = (len(steps), sum(steps))
    mode = Counter(shape.values()).most_common(1)[0][0]
    return [r for r in range(pagesrc.SEED_MOD) if shape[r] == mode]
