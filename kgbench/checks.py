"""Output checks: order-independent table digests, the DuckDB twin of
each SPARQL query, a Python BFS for k-hop, and the recorded goldens."""

from __future__ import annotations

import json
from collections import deque
from pathlib import Path

GOLDENS_PATH = Path(__file__).resolve().parent / "goldens.json"


def digest(df, cols=("subj", "pred", "obj")) -> list:
    """[row count, Σ xxhash64(row)] — equal for equal row multisets."""
    from pyspark.sql import functions as F

    row = df.agg(F.count("*").alias("n"),
                 F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
                 .alias("h")).collect()[0]
    return [int(row["n"]), str(row["h"])]


def sort_rows(rows) -> list[tuple]:
    """None-safe total order over result rows."""
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((x is None, str(x)) for x in r))


class DuckTwin:
    """Runs ``sparql.to_sql`` of a query in DuckDB over the same
    triples parquet files the Spark side reads."""

    def __init__(self, parquet_files: list[str]):
        import duckdb

        self.con = duckdb.connect()
        files = [f.removeprefix("file://").removeprefix("file:")
                 for f in parquet_files]
        self.con.execute(
            "CREATE TABLE triples AS SELECT subj, pred, obj "
            "FROM read_parquet($1)", [files])

    def rows(self, query: str) -> list[tuple]:
        from multivac_spark.operators import sparql as S

        return sort_rows(self.con.execute(
            S.to_sql(S.parse(query))).fetchall())

    def close(self) -> None:
        self.con.close()


def k_hop_oracle(pairs: list[tuple[int, int]], seed: int,
                 k: int) -> dict[int, int]:
    """Minimum undirected hop count from ``seed``, self-loops ignored."""
    adj: dict[int, set[int]] = {}
    for u, v in pairs:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    hops = {seed: 0}
    todo = deque([seed])
    while todo:
        u = todo.popleft()
        if hops[u] == k:
            continue
        for v in adj.get(u, ()):
            if v not in hops:
                hops[v] = hops[u] + 1
                todo.append(v)
    return hops


def goldens(workload: str, seed: int):
    """Recorded outputs for ``seed``, or None when none were recorded."""
    data = json.loads(GOLDENS_PATH.read_text())
    return data.get(workload, {}).get(str(seed))
