"""dedup_clusters: every orderable id type, and the Spark jobs per round."""

from __future__ import annotations

import datetime
import decimal

import pytest

from intervalaverage_spark.functions.dedup import dedup_clusters
from tests.conftest import spark_jobs

#: ten ascending ids per type; ids[6] is unused, and ids[0], ids[7],
#: ids[8] and ids[9] appear only in ``pairs``, never in ``nodes``
IDS = {
    "string": ("string", [chr(ord("a") + i) for i in range(10)]),
    "long": ("long", [2**62 + i for i in range(10)]),
    "decimal": ("decimal(38,1)",
                [decimal.Decimal("12345678901234567890.5") + i for i in range(10)]),
    "date": ("date", [datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
                      for i in range(10)]),
}


def _components(node_ids, pairs):
    """Union-find reference: id → (min id of its component, size). An id
    seen only in ``pairs`` belongs to its component like a node does."""
    parent = {v: v for v in [*node_ids, *(v for p in pairs for v in p)]}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for x, y in pairs:
        parent[find(x)] = find(y)
    comp: dict = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    out = {}
    for members in comp.values():
        out.update({v: (min(members), len(members)) for v in members})
    return out


@pytest.mark.parametrize("kind", sorted(IDS))
def test_dedup_clusters_every_orderable_id_type(spark, kind):
    """Only ``<`` is applied to ids: string, long, decimal and date ids
    match the union-find reference. Ids missing from ``nodes`` count: the
    chain ids[2]–ids[1]–ids[0] takes its label from ids[0], the bridge
    ids[3]–ids[7]–ids[4] runs through ids[7], and ids[8]–ids[9] is a
    cluster of its own. The chain and the bridge take 3 rounds."""
    typ, v = IDS[kind]
    node_ids = v[1:6]
    pairs = [(v[1], v[2]), (v[0], v[1]), (v[3], v[7]), (v[7], v[4]), (v[8], v[9])]
    nodes = spark.createDataFrame([(x,) for x in node_ids], f"doc_id {typ}")
    pdf = spark.createDataFrame(pairs, f"id1 {typ}, id2 {typ}")
    got = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
           for r in dedup_clusters(nodes, pdf, max_iter=3).collect()}
    assert got == _components(node_ids, pairs)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(nodes, pdf, max_iter=2)


def test_dedup_clusters_round_is_its_checkpoint_job(spark):
    """A round runs only the jobs of its label checkpoint: the convergence
    count is an Observation on that checkpoint. A path of k edges takes
    k + 1 rounds, so two paths one edge apart differ by one round. Under
    the test Spark session (local[4], 4 shuffle partitions) a round runs
    5 jobs; it ran 7 when a separate sum aggregate decided convergence."""
    def jobs_for(k):
        nodes = spark.createDataFrame([(i,) for i in range(k + 1)], "doc_id long")
        pairs = spark.createDataFrame([(i, i + 1) for i in range(k)],
                                      "id1 long, id2 long")
        dedup_clusters(nodes, pairs).collect()  # warm-up, same plans
        with spark_jobs(spark, f"dedup_clusters_{k}") as ids:
            dedup_clusters(nodes, pairs)
        return len(ids)

    per_round = jobs_for(3) - jobs_for(2)
    assert 0 < per_round <= 5, per_round
