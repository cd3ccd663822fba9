"""MapReduce facade tests — the reference's own test strategy
(pkg_test.go) upgraded with actual output assertions (the reference's
TestBasic passes on completion alone, pkg_test.go:43-79)."""

from __future__ import annotations

import time
from collections import Counter

import pytest

from gomapreduce_spark.mapreduce import (
    DemoMapper,
    DemoReducer,
    DirectoryInputer,
    JobConfig,
    MapReduceEngine,
    MemoryInputer,
    MemoryOutputer,
    split_file_into_chunks,
)
from gomapreduce_spark.mapreduce.api import Outputer, Reducer
from gomapreduce_spark.mapreduce.engine import Job, JobStats

TEXT = {
    "chunk/0": "the quick brown fox",
    "chunk/1": "the lazy dog the end",
    "chunk/2": "quick quick slow",
}
EXPECTED = Counter("the quick brown fox the lazy dog the end quick quick slow".split())


def test_wordcount_end_to_end(spark):
    """TestBasic analog (reference pkg_test.go:43-79) with a golden check."""
    eng = MapReduceEngine(spark)
    out = MemoryOutputer()
    job_id = eng.submit(JobConfig(m=3, r=2), DemoMapper(), DemoReducer(),
                        MemoryInputer(TEXT), out, sync=True)
    assert eng.status(job_id)
    assert out.results == dict(EXPECTED)
    assert eng.stats(job_id).job_time >= 0
    eng.done(job_id)
    assert not eng.status(job_id)


def test_async_submit_status_poll(spark):
    """Start returns immediately; Status polls to completion
    (reference mapreduce.go:57-77 semantics)."""
    eng = MapReduceEngine(spark)
    out = MemoryOutputer()
    job_id = eng.submit(JobConfig(m=2, r=2), DemoMapper(), DemoReducer(),
                        MemoryInputer(TEXT), out)
    deadline = time.time() + 60
    while not eng.status(job_id):
        assert time.time() < deadline, "job did not complete"
        time.sleep(0.05)
    assert out.results == dict(EXPECTED)


class MedianReducer(Reducer):
    """Non-associative: needs the COMPLETE value list per key
    (the reference's general contract, tasks.go:143-161)."""

    def reduce(self, key, values, outputer: Outputer):
        vs = sorted(values)
        outputer.output(key, vs[len(vs) // 2])


def test_non_associative_reducer_sees_all_values(spark):
    data = {f"k{i}": i for i in range(10)}

    class EmitValues(DemoMapper):
        def map(self, key, value, emitter):
            emitter.emit("all", int(value))
            emitter.emit(f"solo_{value}", int(value))

    eng = MapReduceEngine(spark)
    out = MemoryOutputer()
    eng.submit(JobConfig(m=4, r=3), EmitValues(), MedianReducer(),
               MemoryInputer(data), out, sync=True)
    assert out.results["all"] == 5  # median of 0..9 needs every value
    assert out.results["solo_3"] == 3


def test_chunker_line_boundaries(tmp_path):
    """SplitFileIntoChunks fidelity (reference s3_utils.go:71-107):
    ~chunk_size byte chunks, split only on line boundaries, lossless."""
    src = tmp_path / "input.txt"
    lines = [f"line number {i} with some padding\n" for i in range(100)]
    src.write_text("".join(lines))
    names = split_file_into_chunks(str(src), str(tmp_path / "chunks"), chunk_size=300)
    assert len(names) > 1
    joined = "".join((tmp_path / "chunks" / n).read_text() for n in names)
    assert joined == "".join(lines)
    for n in names:
        assert (tmp_path / "chunks" / n).read_text().endswith("\n")


def test_directory_inputer_with_chunker(spark, tmp_path):
    """Chunk a file, run word count over the chunk directory — the
    reference's TestBootstrap → TestBasic pipeline (pkg_test.go:34-79)."""
    src = tmp_path / "corpus.txt"
    src.write_text("alpha beta\n" * 50 + "gamma\n" * 7)
    split_file_into_chunks(str(src), str(tmp_path / "chunks"), chunk_size=128)
    eng = MapReduceEngine(spark)
    out = MemoryOutputer()
    eng.submit(JobConfig(m=4, r=2), DemoMapper(), DemoReducer(),
               DirectoryInputer(str(tmp_path / "chunks")), out, sync=True)
    assert out.results == {"alpha": 50, "beta": 50, "gamma": 7}


def test_failed_job_surfaces_error(spark):
    class Boom(DemoMapper):
        def map(self, key, value, emitter):
            raise ValueError("boom")

    eng = MapReduceEngine(spark)
    job_id = eng.submit(JobConfig(m=1, r=1), Boom(), DemoReducer(),
                        MemoryInputer({"k": "v"}), MemoryOutputer())
    with pytest.raises(Exception):
        eng.wait(job_id)
    assert not eng.status(job_id)


def test_adler32_partitioner_parity(spark):
    """Intermediate bucket assignment matches the reference's
    adler32(key) % R exactly (emittedStore.go:40 semantics), and the
    job result is unchanged by the partitioner choice."""
    from zlib import adler32

    from gomapreduce_spark.mapreduce.engine import adler32_partition

    for key in ["the", "quick", "brown", "fox", "äöü", ""]:
        for r in (1, 2, 7, 32):
            assert adler32_partition(key, r) == adler32(key.encode()) % r
    eng = MapReduceEngine(spark)
    out = MemoryOutputer()
    eng.submit(JobConfig(m=3, r=4), DemoMapper(), DemoReducer(), MemoryInputer(TEXT), out, sync=True)
    assert out.results == dict(EXPECTED)


def test_read_binary_dir(spark, tmp_path):
    from gomapreduce_spark.operators.multimodal import extract_features, read_binary_dir

    for i in range(5):
        (tmp_path / f"img_{i}.bin").write_bytes(bytes([i]) * (100 + i))
    mm = read_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = mm.collect()
    assert len(rows) == 5
    assert {len(r["payload"]) for r in rows} == {100, 101, 102, 103, 104}
    assert all(r["meta"]["ext"] == "bin" for r in rows)
    feats = extract_features(mm).collect()
    assert {r["size_bytes"] for r in feats} == {100, 101, 102, 103, 104}


def test_partitioned_sink_via_engine(spark, tmp_path):
    """submit() with a PartitionedSink must materialize files on job
    completion — output() buffering alone used to leave the path empty."""
    from gomapreduce_spark.mapreduce.io import PartitionedSink

    sink = PartitionedSink(str(tmp_path / "wc_out"))
    eng = MapReduceEngine(spark)
    eng.submit(JobConfig(m=2, r=2), DemoMapper(), DemoReducer(), MemoryInputer(TEXT), sink, sync=True)
    back = spark.read.parquet(str(tmp_path / "wc_out"))
    got = {(r["key"], int(r["value"])) for r in back.collect()}
    assert got == set(EXPECTED.items())


def test_dataframe_inputer_never_materializes_values(spark):
    """The DataFrame-backed facade path must ship data executor-to-
    executor only: constructing the inputer and running the job may not
    collect the frame (round 1 collected it into every task's closure).
    Key-column-only enumeration via list_keys() remains allowed."""
    from pyspark.sql import DataFrame

    from gomapreduce_spark.mapreduce.io import DataFrameInputer

    df = spark.createDataFrame(
        [(i, text) for i, text in enumerate(TEXT.values())], "doc_id long, text string"
    )
    calls = {"collect": 0, "toPandas": 0, "toLocalIterator": 0}
    saved = {n: getattr(DataFrame, n) for n in calls}

    def patched(name):
        def f(self, *a, **kw):
            calls[name] += 1
            return saved[name](self, *a, **kw)
        return f

    try:
        for n in calls:
            setattr(DataFrame, n, patched(n))
        inp = DataFrameInputer(df, "doc_id", "text")
        eng = MapReduceEngine(spark)
        out = MemoryOutputer()
        eng.submit(JobConfig(m=4, r=2), DemoMapper(), DemoReducer(), inp, out, sync=True)
    finally:
        for n, f in saved.items():
            setattr(DataFrame, n, f)
    assert out.results == dict(EXPECTED)
    assert calls == {"collect": 0, "toPandas": 0, "toLocalIterator": 0}


def test_run_pairs_caps_driver_results(spark):
    """Above MAX_DRIVER_RESULT_PAIRS the engine refuses the per-key
    driver loop for cap-less outputers and auto-diverts to a
    distributed writer when one exists."""
    import pytest as _pytest

    class FanOut(DemoMapper):
        def map(self, key, value, emitter):
            for i in range(120):
                emitter.emit(f"{key}:{i}", 1)

    eng = MapReduceEngine(spark)
    eng.MAX_DRIVER_RESULT_PAIRS = 100  # keep the test fast
    data = {f"k{i}": "x" for i in range(3)}  # 360 pairs > 100
    job_id = eng.submit(JobConfig(m=2, r=2), FanOut(), DemoReducer(),
                        MemoryInputer(data), MemoryOutputer(), sync=True)
    assert not eng.status(job_id)
    with _pytest.raises(RuntimeError, match="exceeds"):
        eng.wait(job_id)


def test_oversized_results_divert_to_partitioned_sink(spark, tmp_path):
    from gomapreduce_spark.mapreduce.io import PartitionedSink

    class FanOut(DemoMapper):
        def map(self, key, value, emitter):
            for i in range(60):
                emitter.emit(f"{key}_{i}", 1)

    eng = MapReduceEngine(spark)
    eng.MAX_DRIVER_RESULT_PAIRS = 100
    sink = PartitionedSink(str(tmp_path / "big_out"))
    data = {f"k{i}": "x" for i in range(3)}  # 180 pairs > 100
    job_id = eng.submit(JobConfig(m=2, r=2), FanOut(), DemoReducer(), MemoryInputer(data), sink, sync=True)
    assert eng.status(job_id)
    assert sink.results == {}  # never buffered driver-side
    back = spark.read.parquet(str(tmp_path / "big_out"))
    assert back.count() == 180


def test_wait_raises_on_timeout(spark):
    import time as _time

    import pytest as _pytest

    class Slow(DemoMapper):
        def map(self, key, value, emitter):
            _time.sleep(5)
            emitter.emit("k", 1)

    eng = MapReduceEngine(spark)
    job_id = eng.submit(JobConfig(m=1, r=1), Slow(), DemoReducer(),
                        MemoryInputer({"k": "v"}), MemoryOutputer())
    with _pytest.raises(TimeoutError):
        eng.wait(job_id, timeout=0.2)
    eng.wait(job_id)  # then let it finish cleanly


def test_demo_mapper_whitespace_matches_engine_tokenizer(spark):
    """DemoMapper, wordcount.tokenize and the oracle share ONE
    whitespace definition: U+001C-001F are NOT separators (str.split
    would split on them), Zs spaces ARE."""
    from pyspark.sql import functions as F

    from gomapreduce_spark.mapreduce.api import ListEmitter
    from gomapreduce_spark.operators.wordcount import tokenize

    text = "a\x1cb c d e 　 f\tg"
    em = ListEmitter()
    DemoMapper().map("k", text, em)
    facade_tokens = sorted(k for k, _ in em.pairs)
    df = spark.createDataFrame([(text,)], "text string")
    spark_tokens = sorted(df.select(F.explode(tokenize("text")).alias("t")).toPandas()["t"])
    assert facade_tokens == spark_tokens == sorted(["a\x1cb", "c", "d", "e", "f", "g"])


def test_per_task_stats(spark):
    """O24 fidelity (reference statsManager.go:102-152): per-task
    wall-clock records and a tasks-per-worker histogram, reported from
    inside the tasks via accumulator."""
    eng = MapReduceEngine(spark)
    out = MemoryOutputer()
    job_id = eng.submit(JobConfig(m=3, r=2), DemoMapper(), DemoReducer(),
                        MemoryInputer(TEXT), out, sync=True)
    st = eng.stats(job_id)
    stats = st.task_stats
    assert stats, "no TaskStat records reported"
    stages = {s.stage for s in stats}
    assert stages == {"map", "reduce"}
    assert all(s.wall_sec >= 0 for s in stats)
    # DemoReducer is associative -> map-side combine; reduce-stage rows
    # out must equal the vocabulary size
    assert sum(s.rows_out for s in stats if s.stage == "reduce") == len(EXPECTED)
    hist = st.tasks_per_worker
    assert sum(hist.values()) == len(stats)
    assert all(":" in w for w in hist)
    times = st.task_times
    assert set(times) == {"map", "reduce"}
    assert len(times["reduce"]) == 2  # r=2 reduce partitions


def test_per_task_stats_dedupe_re_execution(spark):
    """A second action over the same lineage (the oversized-result
    divert path peeks with take() then re-runs for write_rdd) must not
    double-count tasks: stats dedupe by (stage, partition), last
    attempt wins."""
    eng = MapReduceEngine(spark)
    job = Job(
        job_id="dedupe-test",
        config=JobConfig(m=3, r=2),
        mapper=DemoMapper(),
        reducer=DemoReducer(),
        inputer=MemoryInputer(TEXT),
        outputer=MemoryOutputer(),
    )
    eng._stats[job.job_id] = JobStats(started_at=0.0)
    rdd = eng.run_rdd(job)
    rdd.count()
    once = sorted((s.stage, s.partition) for s in eng._stats[job.job_id].task_stats)
    rdd.count()  # re-execute every task
    twice = sorted((s.stage, s.partition) for s in eng._stats[job.job_id].task_stats)
    assert once == twice, "re-execution inflated per-task stats"
    assert len(eng._stats[job.job_id]._accum.value) > len(twice)  # raw attempts did accumulate


def test_clerk_client_stub(spark):
    """O26: the reference's Clerk (client.go:17-47) — dead code there,
    a working client façade here. Unique request ids start at 1 (the
    reference's DOCUMENTED contract; its actual dead code returns 0
    first — see clerk.make_id_generator), and the submit/status/done
    verbs round-trip through the engine."""
    from gomapreduce_spark.mapreduce.clerk import Clerk, make_id_generator

    gen = make_id_generator()
    assert [gen(), gen(), gen()] == [1, 2, 3]

    ck = Clerk(MapReduceEngine(spark))
    out = MemoryOutputer()
    req = ck.submit(JobConfig(m=3, r=2), DemoMapper(), DemoReducer(),
                    MemoryInputer(TEXT), out, sync=True)
    assert req == 1
    ck.wait(req)
    assert ck.status(req)
    assert out.results == dict(EXPECTED)
    # ids are unique per clerk; a second clerk restarts at 1 with its
    # own client identity (reference: clerk_id distinguishes them)
    req2 = ck.submit(JobConfig(m=2, r=2), DemoMapper(), DemoReducer(),
                     MemoryInputer(TEXT), MemoryOutputer(), sync=True)
    assert req2 == 2
    ck2 = Clerk(MapReduceEngine(spark))
    assert ck2.clerk_id != ck.clerk_id
    ck.done(req)
    assert req not in ck.requests
    # post-release / unknown-id polls are tolerant (engine parity):
    # status reports False, wait and a second done are no-ops
    assert ck.status(req) is False
    ck.wait(req)
    ck.done(req)
    assert ck.status(999) is False


ODD_KEYS = ["007", "7", "1.50", "", "a/b", "x=y", "%41", "a b"]


class _KeysAsIs(DemoMapper):
    """Emits each input value as an output key, counted once."""

    def map(self, key, value, emitter):
        emitter.emit(value, 1)


def test_partitioned_sink_keys_round_trip(spark, tmp_path):
    """Keys come back as the exact strings written — both through
    flush (via submit) and through write_rdd — never type-inferred
    ("007" and "7" as 7.0, "" as null) or path-mangled."""
    from gomapreduce_spark.mapreduce.io import PartitionedSink

    data = {f"k{i}": k for i, k in enumerate(ODD_KEYS)}
    want = {(k, "1") for k in ODD_KEYS}
    eng = MapReduceEngine(spark)
    sink = PartitionedSink(str(tmp_path / "flushed"))
    job_id = eng.submit(JobConfig(m=2, r=2), _KeysAsIs(), DemoReducer(),
                        MemoryInputer(data), sink, sync=True)
    eng.wait(job_id)
    back = spark.read.parquet(sink.path).collect()
    assert {(r["key"], r["value"]) for r in back} == want
    assert len(back) == len(ODD_KEYS)

    job = Job(JobConfig(m=2, r=2), _KeysAsIs(), DemoReducer(),
              MemoryInputer(data), MemoryOutputer())
    eng._stats[job.job_id] = JobStats()
    direct = PartitionedSink(str(tmp_path / "direct"))
    direct.write_rdd(spark, eng.run_rdd(job))
    back = spark.read.parquet(direct.path).collect()
    assert {(r["key"], r["value"]) for r in back} == want
    assert len(back) == len(ODD_KEYS)


def test_partitioned_sink_empty_result_overwrites(spark, tmp_path):
    """A job with no output replaces the previous job's files at the
    same path with an empty ``key, value`` dataset."""
    from gomapreduce_spark.mapreduce.io import PartitionedSink

    class Silent(DemoMapper):
        def map(self, key, value, emitter):
            pass

    path = str(tmp_path / "out")
    eng = MapReduceEngine(spark)
    for mapper in (DemoMapper(), Silent()):
        job_id = eng.submit(JobConfig(m=2, r=2), mapper, DemoReducer(),
                            MemoryInputer(TEXT), PartitionedSink(path), sync=True)
        eng.wait(job_id)
    back = spark.read.parquet(path)
    assert back.count() == 0
    assert back.schema.simpleString() == "struct<key:string,value:string>"


def test_spark_jobs_per_submit(spark, tmp_path):
    """One submit is one Spark job for map + shuffle + reduce, plus one
    write job for a PartitionedSink."""
    from gomapreduce_spark.mapreduce.io import PartitionedSink

    sc = spark.sparkContext
    eng = MapReduceEngine(spark)
    counts = []
    for i, out in enumerate((MemoryOutputer(), PartitionedSink(str(tmp_path / "out")))):
        group = f"jobs-per-submit-{i}"
        sc.setJobGroup(group, "jobs per submit")
        try:
            job_id = eng.submit(JobConfig(m=3, r=2), DemoMapper(), DemoReducer(),
                                MemoryInputer(TEXT), out, sync=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        eng.wait(job_id)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts == [1, 2]


def test_mr_wordcount_result_runs_no_python_stage(spark, sf_small):
    """The registered query's result is built from an Arrow table: a JVM
    LocalTableScan, no PythonRDD in the executed lineage."""
    from gomapreduce_spark.queries import QUERIES

    df = QUERIES["mr_wordcount"](spark, sf_small)
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert df.schema.simpleString() == "struct<word:string,cnt:bigint>"
    assert df.count() > 0
