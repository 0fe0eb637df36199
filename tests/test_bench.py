import glob
import os
import sys
import tempfile
from itertools import chain

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench  # noqa: E402
import scale_probe  # noqa: E402
from kafkadirect_spark.functions.text import tokens  # noqa: E402
from kafkadirect_spark.plans import QUERIES  # noqa: E402
from kafkadirect_spark.sources.batch import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_bench_extras_run_registered_queries_under_their_names():
    """An extras suite named like a registered query runs that query
    itself; a bench-only shape never takes a registered name.  Builds
    the table only, no Spark job."""
    names = {id(fn): name for name, fn in QUERIES.items()}
    _, extras = bench.build_suites()
    for key, fn in extras.items():
        if id(fn) in names:
            assert key == names[id(fn)], key
        else:
            assert key not in QUERIES, key


def test_organic_replicas_keep_token_counts_with_fresh_tokens(spark,
                                                              tmp_path):
    """``--organic`` replicas keep every doc's ``text.tokens`` count,
    share no token with replica 0 and carry unique ids; bench suites
    run over the replicated directory through ``bench.run``."""
    d = scale_probe.replicate(spark, SF, str(tmp_path / "sf"), 2, "alnum")
    docs = (load_table(spark, d, "documents")
            .select("doc_id", tokens("text").alias("toks")).toPandas())
    assert docs.doc_id.is_unique
    base = docs[docs.doc_id < scale_probe.SHIFT]
    rep = docs[docs.doc_id >= scale_probe.SHIFT]
    assert len(base) == len(rep) == 500
    pair = base.merge(rep.assign(doc_id=rep.doc_id - scale_probe.SHIFT),
                      on="doc_id", suffixes=("_base", "_rep"))
    assert len(pair) == 500
    assert (pair.toks_base.map(len) == pair.toks_rep.map(len)).all()
    assert not (set(chain.from_iterable(rep.toks))
                & set(chain.from_iterable(base.toks)))
    for name, key in (("events", "event_id"), ("events", "user_id"),
                      ("lineitem", "l_orderkey"), ("embeddings", "vec_id")):
        n_base, n_ids = load_table(spark, SF, name).agg(
            F.count("*"), F.countDistinct(key)).first()
        got = load_table(spark, d, name).agg(
            F.count("*"), F.countDistinct(key)).first()
        assert tuple(got) == (2 * n_base, 2 * n_ids), (name, key)
    dims = [load_table(spark, p, "embeddings")
            .agg(F.sum(F.size("embedding"))).first()[0] for p in (SF, d)]
    assert dims[1] == 2 * dims[0]
    times = bench.run(spark, d, {"doc_surprisal": QUERIES["doc_surprisal"],
                                 "funnel_steps": QUERIES["funnel_steps"]}, 1)
    assert all(len(t) == 1 and t[0] > 0 for t in times.values())


def test_build_suites_leaves_no_temp_dir(spark):
    """Building the suite table makes no directory, and consumeproduce
    deletes the copy it writes."""
    pattern = os.path.join(tempfile.gettempdir(), "kds-bench-*")
    before = set(glob.glob(pattern))
    bench.build_suites()
    suites, _ = bench.build_suites()
    bench.run(spark, SF, {"consumeproduce": suites["consumeproduce"]}, 1)
    assert set(glob.glob(pattern)) <= before


def test_plan_stats_counts_python_worker_nodes(spark):
    """``python`` counts the Python-worker stages, so a plan that
    moves work from codegen into a Python stage changes its
    fingerprint; the other five fields do not see it."""
    df = spark.range(8).withColumn("y", F.col("id") * 2)

    def double(batches):
        for pdf in batches:
            yield pdf.assign(y=pdf["id"] * 2)

    codegen = bench.plan_stats(df)
    python = bench.plan_stats(
        spark.range(8).mapInPandas(double, "id long, y long"))
    assert codegen["python"] == 0 and python["python"] == 1
    assert ({k: v for k, v in codegen.items() if k != "python"}
            == {k: v for k, v in python.items() if k != "python"})


def test_dump_plans_renumbers_expression_ids_per_plan():
    """Expression ids restart at 1 in every plan, in first-seen
    order, so one changed plan cannot renumber the plans after it;
    '##' literals are left alone."""
    import dump_plans

    plan = ("Project [vec_id#1687L, s#12, concat(##, x#12)]\n"
            "Exchange hashpartitioning(vec_id#1687L, 4), [plan_id=93]")
    assert dump_plans._mask_ids(plan) == (
        "Project [vec_id#1L, s#2, concat(##, x#2)]\n"
        "Exchange hashpartitioning(vec_id#1L, 4), [plan_id=N]")
