"""Plan-shape fingerprints: the physical operators of each headline
query, counted by operator name, pinned per query.

A fingerprint is the multiset of numbered nodes in the query's
``explain("formatted")`` output (subqueries and cached relations'
build plans included), planned at sf0.01 and not executed. A change in
join strategy, an extra Exchange, a lost pushdown that adds a Filter or
a Python worker appearing all change the counts, so a plan change fails
here the way a wrong result fails the oracle suite. The pinned strings
are the evidence of each plan's shape; ``tests/test_plans.py`` keeps the
property gates (pushdown, pruning, no cartesian products).

The plans are computed in a child process with a fresh session: a plan
over a frame another test cached would read ``InMemoryTableScan`` in
place of the scan it stands for. When a plan changes on purpose, the
failure message prints the new lines for
``tests/fixtures/plan_fingerprints.json``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
from collections import Counter

from tests.conftest import SF_ORACLE as SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bpe_train_iteration(spark, tmp):
    """corpus_bpe_train returns a driver-local merge table (its loop's
    plans run inside); the informative plan is one training iteration
    over the word table."""
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    wt = llmprep._bpe_word_table(load_table(spark, SF, "documents"))
    return llmprep._bpe_pair_ranking(wt)


def _rolling_active_users_approx(spark, tmp):
    from spark_history_server_rs_spark.operators import relational
    from spark_history_server_rs_spark.sources.generic import load_events

    return relational.rolling_active_users_approx(load_events(spark, SF))


def _novelty_curve_approx(spark, tmp):
    from spark_history_server_rs_spark.operators import corpus
    from spark_history_server_rs_spark.sources.generic import load_table

    return corpus.novelty_curve_approx(load_table(spark, SF, "documents"))


def _knn_graph(spark, tmp):
    from spark_history_server_rs_spark.sources.generic import load_table
    from spark_history_server_rs_spark.sources.knn_graph import write_knn_graph

    emb = load_table(spark, SF, "embeddings")
    write_knn_graph(emb, f"{tmp}/knng")
    return emb, f"{tmp}/knng"


def _graph_expand_from_index(spark, tmp):
    from spark_history_server_rs_spark.sources.knn_graph import (
        ann_graph_expand_from_index,
    )

    emb, path = _knn_graph(spark, tmp)
    return ann_graph_expand_from_index(spark, path, emb)


def _knn_graph_build_edges(spark, tmp):
    from spark_history_server_rs_spark.sources.knn_graph import knn_graph_edges_df

    _, path = _knn_graph(spark, tmp)
    return knn_graph_edges_df(spark.read.parquet(f"{path}/nodes"))


def _ivf_pq_residual_from_index(spark, tmp):
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_residual_from_index,
        write_ann_index,
    )
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF, "embeddings")
    write_ann_index(emb, f"{tmp}/resann", residual=True)
    return ann_ivf_pq_residual_from_index(spark, f"{tmp}/resann", emb)


def _metrics_rollup_partials(spark, tmp):
    from spark_history_server_rs_spark.sources.generic import load_events
    from spark_history_server_rs_spark.sources.metrics_rollup import (
        rollup_partials,
    )

    return rollup_partials(load_events(spark, SF))


def _performance_trends_from_rollup(spark, tmp):
    """The uncached serve plan: the cached path shows an
    InMemoryTableScan, which hides the partition layout."""
    from spark_history_server_rs_spark.sources import metrics_rollup as mr
    from spark_history_server_rs_spark.sources.generic import load_events

    mr.write_metrics_rollup(load_events(spark, SF), f"{tmp}/rollup")
    return mr.performance_trends_from_partials(
        mr.read_rollup_partials(spark, f"{tmp}/rollup")
    )


#: Covered plans that are not a plain ``queries()`` row: name -> frame
#: builder over the session and a scratch dir of its own.
BUILDERS = {
    "corpus_bpe_train:iteration": _bpe_train_iteration,
    "rolling_active_users_approx": _rolling_active_users_approx,
    "corpus_novelty_curve_approx": _novelty_curve_approx,
    "ann_graph_expand_from_index": _graph_expand_from_index,
    "ann_ivf_pq_residual_from_index": _ivf_pq_residual_from_index,
    "knn_graph_build_edges": _knn_graph_build_edges,
    "metrics_rollup_partials": _metrics_rollup_partials,
    "performance_trends_from_rollup": _performance_trends_from_rollup,
}

#: a numbered node's header line: ``(12) HashAggregate [codegen id : 3]``;
#: the bracketed tail (codegen stage, reused operator id) is not counted
_NODE = re.compile(r"^\(\d+\) (.+?)(?: \[.*\])?\s*$", re.M)


def fingerprint(df) -> str:
    """``"<operator>=<count>, ..."`` over the formatted plan's numbered
    nodes, sorted by operator name."""
    from spark_history_server_rs_spark.plans.inspect import explain_str

    counts = Counter(_NODE.findall(explain_str(df, "formatted")))
    return ", ".join(f"{op}={n}" for op, n in sorted(counts.items()))


def compute(names) -> dict[str, str]:
    """Fingerprints of ``names`` planned in one fresh session."""
    import __spark_entry__

    from spark_history_server_rs_spark.session import get_spark

    spark = get_spark("plan-fingerprints", master="local[4]", shuffle_partitions=8)
    queries = __spark_entry__.queries()
    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        for name in names:
            if name in BUILDERS:
                df = BUILDERS[name](spark, tempfile.mkdtemp(dir=tmp))
            else:
                df = queries[name](spark, SF)
            out[name] = fingerprint(df)
    spark.stop()
    return out


#: query name -> pinned fingerprint, in planning order
PINNED = os.path.join(REPO, "tests", "fixtures", "plan_fingerprints.json")


def test_plan_fingerprints():
    with open(PINNED) as f:
        pinned = json.load(f)
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_plan_fingerprints", *pinned],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    changed = {n: got.get(n) for n in pinned if got.get(n) != pinned[n]}
    assert not changed, "plan shape changed:\n" + "\n".join(
        f" {json.dumps(n)}: {json.dumps(fp)}," for n, fp in changed.items()
    )


if __name__ == "__main__":
    print(json.dumps(compute(sys.argv[1:])))
