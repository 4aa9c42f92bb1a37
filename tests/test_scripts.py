"""The scripts: the A/B gain and no-regression rules of scripts/ab.py,
the argument guards of scripts/bench_flows.py and
scripts/submit_pipeline.py, the deployment job's pinned stage
fingerprints, crash and resume, and the library names the benchmark
harness imports and the members its layer probe reads."""

import argparse
import ast
import glob
import importlib
import importlib.util
import inspect
import os

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(SCRIPTS, f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _pairs(base, change, metric="docs_per_s"):
    """Pairs of correct runs; a ``None`` value is a run without metrics."""
    def run(value):
        return {"correct": True, "metrics": {} if value is None else {metric: value}}
    return [{"base": run(b), "change": run(c)} for b, c in zip(base, change)]


def _harness_call_errors(path):
    """Every ``from a_tree_spark... import name`` in ``path`` that no
    longer resolves, and every keyword argument its calls of such a
    name pass that the name's signature no longer accepts."""
    tree = ast.parse(open(path).read(), path)
    imported, errors = {}, []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and node.level == 0
                and node.module.split(".")[0] == "a_tree_spark"):
            continue
        module = importlib.import_module(node.module)
        for alias in node.names:
            if hasattr(module, alias.name):
                imported[alias.asname or alias.name] = getattr(module, alias.name)
            else:
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    errors.append(f"{node.module}.{alias.name}")
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and callable(imported.get(node.func.id))):
            continue
        params = inspect.signature(imported[node.func.id]).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        errors += [f"{node.func.id}({kw.arg}=)" for kw in node.keywords
                   if kw.arg is not None and kw.arg not in params]
    return errors


def test_benchmark_harness_imports_resolve():
    """perfbench/, bench.py and bench_extra.py import library names and
    call them by keyword (``choose_access_pruning``,
    ``salted_cell_stats``, ``emit=``). Each name must still resolve and
    each keyword must still be accepted, so a change that drops one
    fails here rather than in a benchmark run. Needs no Spark session."""
    root = os.path.dirname(SCRIPTS)
    paths = sorted(glob.glob(os.path.join(root, "perfbench", "*.py")))
    paths += [os.path.join(root, "bench.py"), os.path.join(root, "bench_extra.py")]
    assert len(paths) > 2
    errors = {path: _harness_call_errors(path) for path in paths}
    assert not any(errors.values()), errors


def test_benchmark_layer_probe_members_resolve():
    """The import check above sees names and keywords only; the layer
    probe (perfbench/layers.py::_vector_probe) also reads members of
    the builder, the forest and a planned evaluator. Plan one on a tiny
    forest and read each of them the way the probe does. Needs no Spark
    session."""
    import pickle

    from a_tree_spark.engine.matcher import choose_access_pruning
    from a_tree_spark.expr import AttributeDefinition as A, ForestBuilder
    from a_tree_spark.expr.vector import BatchEvaluator
    from tests.conftest import event_batch

    builder = ForestBuilder([A.integer("x"), A.string_list("tags")])
    builder.insert(1, "x > 2 and tags one of ['a']")
    builder.insert(2, "x > 2 and tags one of ['a']")
    builder.insert(3, "tags is empty or x = 1")
    assert builder.nodes_created_total == 6
    forest = builder.compile()
    assert forest.num_nodes == 6

    ev = BatchEvaluator(forest)
    ev.access_pruning = choose_access_pruning(ev)
    assert len(pickle.dumps(ev)) > 0
    assert len(ev.sub_ids) == 3 and len(ev.root_nodes) == 2
    batch = event_batch(builder.attributes, [
        {"x": 3, "tags": ["a"]}, {"x": 1, "tags": []}, {"x": None, "tags": None},
    ])
    cache = ev.arrow_columns(batch)
    rows, root_idx = ev.evaluate_prepared_roots(cache, batch.num_rows)
    rows, subs = ev.expand_roots(rows, root_idx)
    assert sorted(zip(rows.tolist(), subs.tolist())) == [(0, 1), (0, 2), (1, 3)]


def test_ab_gain_needs_nine_tenths_of_pairs_and_gap_beyond_parent_iqr():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 11.0, 12.0, 10.5, 11.5]
    row = ab.summarize(_pairs(base, [b * 1.4 for b in base]), "docs_per_s", True)
    assert row["wins"] == 10 and row["pairs"] == 10 and row["gain"]

    # 8/10 wins is short of 9/10, however large the gap
    change = [b * 1.4 for b in base[:8]] + base[8:]
    row = ab.summarize(_pairs(base, change), "docs_per_s", True)
    assert row["wins"] == 8 and not row["gain"]  # ties count for neither

    # every pair won, but the gap is inside the parent's own IQR
    row = ab.summarize(_pairs(base, [b + 0.1 for b in base]), "docs_per_s", True)
    assert row["wins"] == 10 and not row["gain"]


def test_ab_gain_needs_ten_pairs():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5]
    row = ab.summarize(_pairs(base, [b * 1.4 for b in base]), "docs_per_s", True)
    assert row["wins"] == 4 and row["pairs"] == 4 and not row["gain"]


def test_ab_pair_without_change_metric_counts_as_lost():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 11.0, 12.0, 10.5, 11.5]
    change = [b * 1.4 for b in base[:8]] + [None, None]
    row = ab.summarize(_pairs(base, change), "docs_per_s", True)
    assert row["wins"] == 8 and row["pairs"] == 10 and not row["gain"]

    # a parent run without the metric is a pair the change won
    row = ab.summarize(_pairs([None] + base[1:], [b * 1.4 for b in base]),
                       "docs_per_s", True)
    assert row["wins"] == 10 and row["gain"]


def test_ab_gain_void_when_change_fails_more_runs():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 11.0, 12.0, 10.5, 11.5]
    pairs = _pairs(base, [b * 1.4 for b in base])
    pairs[3]["change"]["correct"] = False
    row = ab.summarize(pairs, "docs_per_s", True)
    assert row["wins"] == 10 and row["failed"] == {"base": 0, "change": 1}
    assert not row["gain"]

    pairs[5]["base"]["correct"] = False  # as many failures on both sides
    assert ab.summarize(pairs, "docs_per_s", True)["gain"]


def test_ab_lower_is_better_and_missing_metric():
    ab = _load("ab")
    base = [2.0, 2.1, 2.2, 2.0, 2.1, 2.2, 2.0, 2.1, 2.2, 2.0]
    row = ab.summarize(_pairs(base, [b / 2 for b in base], "setup_s"), "setup_s", False)
    assert row["gain"] and row["ratio"] < 1
    assert ab.summarize(_pairs(base, base, "setup_s"), "docs_per_s", True) is None


def test_ab_no_regression_verdict_against_the_bound():
    ab = _load("ab")
    base = [10.0, 10.2, 10.4, 10.1, 10.3, 10.0, 10.2, 10.4, 10.1, 10.3]
    row = ab.summarize(_pairs(base, [b * 0.9 for b in base]), "docs_per_s", True, 0.25)
    assert row["regression"] == "ok" and row["bound"] == 0.25 and not row["gain"]
    # 30% fewer docs/s is past a 25% bound
    row = ab.summarize(_pairs(base, [b * 0.7 for b in base]), "docs_per_s", True, 0.25)
    assert row["regression"] == "worse"
    # a lower-is-better metric regresses upward
    assert ab.summarize(_pairs(base, [b * 1.2 for b in base], "rss"), "rss", False,
                        0.1)["regression"] == "worse"
    assert ab.summarize(_pairs(base, [b * 0.8 for b in base], "rss"), "rss", False,
                        0.1)["regression"] == "ok"
    # no bound given, no verdict
    assert ab.summarize(_pairs(base, base), "docs_per_s", True)["regression"] is None


def test_ab_no_regression_unresolved_when_paired_spread_exceeds_bound():
    ab = _load("ab")
    base = [10.0] * 10
    spread = [6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 6.0, 14.0, 7.0, 13.0]
    row = ab.summarize(_pairs(base, spread), "docs_per_s", True, 0.25)
    assert row["paired"]["median"] == 1.0  # paired ratios' IQR 0.6
    assert row["regression"] == "unresolved"
    # unless the change won every pair
    row = ab.summarize(_pairs(base, [15.0 + i for i in range(10)]), "docs_per_s", True, 0.25)
    assert row["regression"] == "ok"
    # a median past the bound is worse, whatever the spread
    row = ab.summarize(_pairs(base, [b * 0.5 for b in spread]), "docs_per_s", True, 0.25)
    assert row["regression"] == "worse"
    # the parent's own spread is no verdict when every pair agrees
    row = ab.summarize(_pairs(spread, spread), "docs_per_s", True, 0.25)
    assert row["regression"] == "ok"


def _drift(throughputs, start=4):
    """``throughputs`` with the host slowed 2x from pair ``start + 1``
    on."""
    return [v / 2 if i >= start else v for i, v in enumerate(throughputs)]


def test_ab_no_regression_reads_paired_ratios_through_host_drift():
    """Both sides slow 2x from pair 5 on: the unpaired side medians and
    the parent's quartiles move, the paired ratios do not, so the
    verdict is ``ok``. A uniform 10% regression still reads ``worse``,
    with the drift and without it."""
    ab = _load("ab")
    steady = [10.0, 10.2, 10.4, 10.1, 10.3, 10.0, 10.2, 10.4, 10.1, 10.3]
    drifted = _drift(steady)
    row = ab.summarize(_pairs(drifted, [b * 1.01 for b in drifted]), "docs_per_s",
                       True, 0.05)
    assert row["paired"]["median"] == pytest.approx(1.01)
    assert row["regression"] == "ok"
    for base in (steady, drifted):
        row = ab.summarize(_pairs(base, [b * 0.9 for b in base]), "docs_per_s",
                           True, 0.05)
        assert row["paired"]["median"] == pytest.approx(0.9)
        assert row["regression"] == "worse"


def test_bench_flows_rejects_fewer_than_two_users():
    bench_flows = _load("bench_flows")
    assert bench_flows._at_least_two("2") == 2
    with pytest.raises(argparse.ArgumentTypeError):
        bench_flows._at_least_two("1")


def test_ab_steal_summary_from_run_artifacts(tmp_path):
    ab = _load("ab")
    os.makedirs(tmp_path / ".bench_work")
    artifact = tmp_path / ".bench_work" / "crawl_standing-seed1-trace0.json"
    artifact.write_text('{"steps": [{"steal_pct": 4.0}, {"steal_pct": 0.5}, '
                        '{"steal_pct": 1.0}]}')
    stdout = ("# crawl_standing seed=1 steps=3 steal_pct_per_step=[4.0, 0.5, 1.0] "
              "artifact=.bench_work/crawl_standing-seed1-trace0.json\n{}\n")
    assert ab.run_steal(str(tmp_path), stdout) == 1.0
    assert ab.run_steal(str(tmp_path), "{}\n") is None  # a crashed run

    pairs = _pairs([10.0] * 4, [11.0] * 4)
    for p, (b, c) in zip(pairs, [(1.0, 0.0), (2.0, 8.0), (3.0, 0.5), (4.0, None)]):
        p["base"]["steal_pct"], p["change"]["steal_pct"] = b, c
    row = ab.steal_summary(pairs)
    assert row["base"]["median"] == 2.5 and row["change"]["median"] == 0.5
    assert row["change"]["q1"] == 0.25 and row["change"]["q3"] == 4.25

    for p in pairs:
        p["change"]["steal_pct"] = None
    assert ab.steal_summary(pairs) is None


def test_submit_pipeline_rejects_counts_below_one(capsys):
    sp = _load("submit_pipeline")
    args = sp.parse_args(["--shards", "3", "--units", "8"])
    assert (args.shards, args.units) == (3, 8)
    assert sp.parse_args(["--shards", "auto"]).shards == "auto"
    for argv in (["--shards", "0"], ["--shards", "-2"], ["--shards", "two"],
                 ["--units", "0"], ["--units", "-1"]):
        with pytest.raises(SystemExit):
            sp.parse_args(argv)
        assert "at least 1" in capsys.readouterr().err


def test_submit_stage_fingerprint_covers_the_partial_layout(monkeypatch):
    """A checkpoint of partials in another row layout is never resumed:
    the stage fingerprint changes with the kernel's partial columns,
    for the same forests and level."""
    from a_tree_spark.web import pipeline
    from a_tree_spark.web.pipeline import build_forests, standing_page_subscriptions

    sp = _load("submit_pipeline")
    forests = build_forests([standing_page_subscriptions(50)])
    now = sp.stage_fingerprint(forests, 12)
    assert sp.stage_fingerprint(forests, 12) == now
    monkeypatch.setattr(pipeline, "PARTIAL_COLUMNS", ("ckey", "n_matches"))
    assert sp.stage_fingerprint(forests, 12) != now


def test_submit_stage_fingerprint_plans_each_shard_once(monkeypatch):
    """The stage fingerprint and the per-shard consumers after it share
    each shard snapshot's one plan: fingerprinting 3 shards and then
    asking each for its plan plans 3 times, not 6."""
    from a_tree_spark.expr.vector import BatchEvaluator, planned_evaluator
    from a_tree_spark.web import pipeline

    plans = []
    init = BatchEvaluator.__init__

    def counting_init(self, *args, **kwargs):
        plans.append(args[0] if args else kwargs["forest"])
        init(self, *args, **kwargs)

    monkeypatch.setattr(BatchEvaluator, "__init__", counting_init)

    forests = pipeline.build_forests(
        pipeline.shard_subscriptions(pipeline.standing_page_subscriptions(300), 3)
    )
    _load("submit_pipeline").stage_fingerprint(forests, 12)
    for forest in forests:
        planned_evaluator(forest.compile())
    assert len(plans) == 3
    assert all(p is forest.compile() for p, forest in zip(plans, forests))


@pytest.mark.parametrize("workload, n_subs, n_shards, expected", [
    ("standing", 500, 3, "571796ba5dd9784d"),
    ("skewed", 2000, 1, "07996c9267a1ab9c"),
    ("diverse", 2000, 2, "71c166f1fec4875e"),
])
def test_submit_stage_fingerprint_pins_fresh_builds(
    workload, n_subs, n_shards, expected
):
    """A build with no deletes lays its slots out in creation order:
    the stage fingerprint of each fresh build is pinned, and no change
    to how deletes free and reuse slots may move it. The values do not
    depend on PYTHONHASHSEED."""
    from a_tree_spark.web import pipeline

    subs = getattr(pipeline, f"{workload}_page_subscriptions")(n_subs)
    forests = pipeline.build_forests(
        pipeline.shard_subscriptions(subs, n_shards)
    )
    assert _load("submit_pipeline").stage_fingerprint(forests, 12) == expected


@pytest.mark.parametrize("workload, n_subs, n_shards, expected", [
    ("standing", 500, 3, "d53496be3494bf62"),
    ("skewed", 2000, 1, "f72c6ee670bfbab2"),
    ("diverse", 2000, 2, "63c2e8568d58ce56"),
])
def test_submit_stage_fingerprint_pins_the_slot_layout(
    workload, n_subs, n_shards, expected
):
    """The plan's slot order and root CSR, sub order within a root
    included, are what a checkpointed root id means: the stage
    fingerprint of each build is pinned. Every shard first deletes its
    first 50 sub ids and re-inserts them, so freed slots, their reuse
    and re-inserted subscriptions are in the layout. The values do not
    depend on PYTHONHASHSEED; a deliberate order change updates them
    and says so."""
    from a_tree_spark.web import pipeline

    subs = getattr(pipeline, f"{workload}_page_subscriptions")(n_subs)
    forests = pipeline.build_forests(
        pipeline.shard_subscriptions(subs, n_shards)
    )
    for forest in forests:
        moved = list(forest.sub_ids())[:50]
        for sub_id in moved:
            forest.delete(sub_id)
        for sub_id in moved:
            forest.insert(sub_id, subs[sub_id])
    assert _load("submit_pipeline").stage_fingerprint(forests, 12) == expected


class _Crash(Exception):
    pass


@pytest.mark.parametrize("shards", ["1", "3"])
def test_submit_pipeline_resumes_exactly_after_crash(spark, tmp_path, monkeypatch, shards):
    """A job that committed units 0-2 and died after landing rows of a
    dead attempt for unit 4 resumes with only units 3-5, audits clean and
    writes exactly ``run_pipeline``'s stats. A resume under a changed
    subscription set opens a new stage and reads nothing of the old."""
    from pyspark.sql import functions as F

    from a_tree_spark.pipeline import checkpoint
    from a_tree_spark.web import run_pipeline, synth_pages_df

    sp = _load("submit_pipeline")
    n_pages, n_units = 400, 6
    root = str(tmp_path / "ckpt")

    def args(n_subs):
        return sp.parse_args([
            "--pages", f"synth:{n_pages}", "--subscriptions", str(n_subs),
            "--units", str(n_units), "--shards", shards,
            "--output", str(tmp_path / f"out{n_subs}"), "--checkpoint-root", root,
        ])

    def reference(n_subs):
        pages = synth_pages_df(spark, n_pages)
        return sorted(map(tuple, run_pipeline(spark, n_pages, n_subs, pages=pages).collect()))

    stage_class = checkpoint.StageCheckpoint
    stages, computed = [], []

    class CrashingStage(stage_class):
        def run_stage(self, units, compute):
            super().run_stage(units.where("unit_id < 3"), compute)
            compute(units.where("unit_id = 4")).withColumn(
                "_attempt", F.lit("deadbeefcrashed")
            ).write.mode("append").parquet(self.data_path)
            raise _Crash

    class RecordingStage(stage_class):
        def __init__(self, *a):
            super().__init__(*a)
            stages.append(self)

        def run_stage(self, units, compute):
            def recording(pending):
                computed.append(sorted(r["unit_id"] for r in pending.collect()))
                return compute(pending)
            return super().run_stage(units, recording)

    monkeypatch.setattr(checkpoint, "StageCheckpoint", CrashingStage)
    with pytest.raises(_Crash):
        sp.run(spark, args(200))
    monkeypatch.setattr(checkpoint, "StageCheckpoint", RecordingStage)

    stats = sorted(map(tuple, sp.run(spark, args(200)).collect()))
    ckpt = stages[0]
    assert computed == [[3, 4, 5]]
    orphans = spark.read.parquet(ckpt.data_path).where("_attempt = 'deadbeefcrashed'")
    assert orphans.where("unit_id = 4").count() > 0
    assert ckpt.verify().count() == 0
    assert stats == reference(200) and stats
    assert sorted(map(tuple, spark.read.parquet(str(tmp_path / "out200")).collect())) == stats

    sp.run(spark, args(200))
    assert len(computed) == 1  # nothing left to compute

    changed = sorted(map(tuple, sp.run(spark, args(150)).collect()))
    assert computed[-1] == list(range(n_units))
    assert stages[-1].stage != ckpt.stage and stages[-1].stage.startswith("match-")
    assert sorted(os.listdir(root)) == sorted([ckpt.stage, stages[-1].stage])
    assert changed == reference(150) and changed != stats
