"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(
        gen, "WORKLOADS", {"corpus_wide": gen.Workload(30, 10), "vocab_wide": gen.Workload(30, 40)}
    )


@pytest.mark.parametrize("workload", ["corpus_wide", "vocab_wide"])
def test_generator_is_deterministic_per_seed(small, workload):
    a, b, c = gen.build(workload, 5), gen.build(workload, 5), gen.build(workload, 6)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["transcripts"].equals(c["transcripts"])


def test_generator_cache_round_trip(small, tmp_path):
    d = gen.cached("vocab_wide", 5, str(tmp_path))
    assert gen.cached("vocab_wide", 5, str(tmp_path)) == d
    import pyarrow.parquet as pq

    assert pq.read_table(os.path.join(d, "truth.parquet")).equals(gen.build("vocab_wide", 5)["truth"])


def test_vocab_stems_differ_in_four_syllables():
    perm = list(range(gen.RS_Q))
    words = [[(m // gen.RS_Q**i) % gen.RS_Q for i in range(gen.RS_K)] for m in range(0, gen.RS_Q**gen.RS_K, 37)]

    def codeword(coef):
        return [sum(c * x**i for i, c in enumerate(coef)) % gen.RS_Q for x in gen.RS_POINTS]

    cws = [codeword(w) for w in words]
    for i, a in enumerate(cws):
        for b in cws[i + 1 :]:
            assert sum(x != y for x, y in zip(a, b)) >= 4
    assert gen.rs_stem(0, perm) == gen.SYLLABLES[0] * len(gen.RS_POINTS)


def test_vocab_truth_covers_every_lexicon_surface(small):
    t = gen.build("vocab_wide", 1)
    truth = set(zip(t["truth"]["etype"].to_pylist(), t["truth"]["surface"].to_pylist()))
    lex = set(zip(t["lexicon"]["etype"].to_pylist(), t["lexicon"]["surface"].to_pylist()))
    assert truth <= lex
    assert len(truth) == 4 * 4 * 40  # 4 etypes x 40 entities x 4 distinct variants
    corpus = gen.build("corpus_wide", 1)["transcripts"]
    assert t["transcripts"].schema == corpus.schema  # the schema of scale_corpus


def test_pair_f1_on_toy_clustering():
    truth = {"a1": "A", "a2": "A", "a3": "A", "b1": "B", "b2": "B"}
    assert checks.pair_f1({k: k[0] for k in truth}, truth) == 1.0
    # a3 split off: true pairs 3 + 1 = 4, predicted 1 + 1 = 2, all correct
    split = {"a1": 1, "a2": 1, "a3": 2, "b1": 3, "b2": 3}
    assert checks.pair_f1(split, truth) == pytest.approx(2 * 1.0 * 0.5 / 1.5)
    # everything merged: 10 predicted pairs, 4 true
    merged = dict.fromkeys(truth, 0)
    assert checks.pair_f1(merged, truth) == pytest.approx(2 * 0.4 * 1.0 / 1.4)
    # a surface unknown to the truth is its own entity
    assert checks.pair_f1({"x": 0, "a1": 0}, {"a1": "A"}) == 0.0


def test_check_annotations_flags_each_invariant():
    expected = {("c", 0): "take BRCA1 now", ("c", 1): "none"}
    good = [
        {"conv_id": "c", "turn_idx": 0, "text": "take BRCA1 now",
         "denotations": [{"start": 5, "end": 10, "mention": "BRCA1", "etype": "gene", "cluster_id": "k"}]},
        {"conv_id": "c", "turn_idx": 1, "text": "none", "denotations": []},
    ]
    rc = checks.check_annotations(good, expected)
    assert rc.n_violations == 0 and rc.denotations == 1 and rc.clusters == {("gene", "BRCA1"): "k"}
    bad_span = json.loads(json.dumps(good))
    bad_span[0]["denotations"][0]["start"] = 4
    assert checks.check_annotations(bad_span, expected).n_violations == 1
    bad_text = json.loads(json.dumps(good))
    bad_text[1]["text"] = "None"
    assert checks.check_annotations(bad_text, expected).n_violations == 1
    assert checks.check_annotations(good[:1], expected).n_violations == 1


def _fake_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "cc"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 500, "Memory Bytes Spilled": 3,
                          "Disk Bytes Spilled": 4, "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    os.makedirs(path)
    with open(os.path.join(path, "local-1"), "w", encoding="utf-8") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)


def test_event_log_metrics_sum_per_job_group(tmp_path):
    d = str(tmp_path / "ev")
    _fake_log(d)
    m = layers.event_log_metrics(d)
    assert m["extract"] == {"jobs": 1, "stages": 1, "tasks": 1, "failed_tasks": 0, "cpu_s": 2.0,
                            "gc_s": 0.5, "shuffle_write_bytes": 10, "spill_bytes": 7}
    assert m["cc"]["jobs"] == 1 and m["cc"]["failed_tasks"] == 1 and m["cc"]["stages"] == 1


def _declared(kind):
    return {m["name"]: m for m in BENCH[kind]}


def test_every_printed_metric_is_declared_with_its_unit(tmp_path):
    d = str(tmp_path / "ev")
    _fake_log(d)
    spans = {name: {"wall_s": 1.0, "python_cpu_s": 0.5, "rows_out": 2} for name in layers.LAYERS + ("lineage_resume",)}
    spans["blocking"]["surfaces"] = 2
    spans["cc"]["edges"] = 3
    per_layer = run.finish_trace({"spans": spans, "store": {"bytes_written": 1, "stage_tables": 1}}, d, 10)
    for kind, names in (("end_to_end", run.E2E), ("per_layer", per_layer)):
        decl = _declared(kind)
        assert set(names) == set(decl), kind
        for n in names:
            assert decl[n]["unit"] == run.unit_of(n), n


def test_every_layer_states_what_it_should_move():
    workloads = {w["name"] for w in BENCH["workloads"]}
    assert workloads == set(gen.WORKLOADS)
    e2e = set(_declared("end_to_end"))
    for name in _declared("per_layer"):
        layer = name.split(".", 1)[0]
        pred = run.MOVES[layer]
        assert set(pred["moves"]) <= e2e
        assert pred["on"] and set(pred["on"]) | set(pred["not_on"]) <= workloads
    assert set(run.MOVES) == set(layers.LAYERS)


def test_corpus_truth_covers_every_entity_surface_of_the_lexicon(small):
    t = gen.build("corpus_wide", 3)
    truth = set(zip(t["truth"]["etype"].to_pylist(), t["truth"]["surface"].to_pylist()))
    lex = set(zip(t["lexicon"]["etype"].to_pylist(), t["lexicon"]["surface"].to_pylist()))
    from bern_spark.datagen import SPECIES_STOPLIST

    assert truth and truth <= lex
    assert lex - truth <= {("species", s) for s in SPECIES_STOPLIST}
    assert t["transcripts"].schema.field("ts").type == gen.pa.timestamp("us", tz="UTC")


def test_children_cpu_counts_a_busy_child():
    import subprocess

    burn = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\nprint(flush=True)\nsys.stdin.read()"
    before = layers.children_cpu_s(os.getpid())
    p = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    p.stdout.readline()  # the child has burnt its CPU and is still alive
    assert p.pid in layers.descendants(os.getpid())
    assert layers.children_cpu_s(os.getpid()) - before >= 0.25
    p.stdin.close()
    p.wait()
    p.stdout.close()


class _Run:
    def __init__(self, rows, denotations):
        self.rows, self.denotations, self.f1, self.n_violations = rows, denotations, 1.0, 0


def test_outcomes_compare_only_rows_across_processes(tmp_path):
    path = str(tmp_path / "expect.json")
    first = run.Outcomes(path)
    first.run("a", lambda: (1.0, _Run(10, 5)))
    assert first.finish()
    other_denotations = run.Outcomes(path)
    other_denotations.run("b", lambda: (1.0, _Run(10, 7)))
    assert other_denotations.finish()
    other_rows = run.Outcomes(path)
    other_rows.run("c", lambda: (1.0, _Run(11, 5)))
    assert not other_rows.finish()
    mixed = run.Outcomes(str(tmp_path / "fresh.json"))
    mixed.run("d", lambda: (1.0, _Run(10, 5)))
    mixed.run("e", lambda: (1.0, _Run(10, 6)))
    assert not mixed.finish()
