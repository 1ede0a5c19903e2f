"""Kill/resume: a killed run resumes without recomputing committed
micro-batches and converges to the same result (BASELINE.md resume
row)."""
import glob
import json
import os
import shutil

from console_log_parser_spark.operators.route import salt
from console_log_parser_spark.plans.checkpoint import (
    batch_of, read_manifests, run_with_checkpoints)
from console_log_parser_spark.plans.pipeline import PipelineConfig
from console_log_parser_spark.sources.catalog import read_tokens


def test_kill_resume_no_recompute(spark, small_dataset, tmp_path):
    out = str(tmp_path / "ckpt")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)

    # phase 1: "killed" after 2 of 4 micro-batches
    r1 = run_with_checkpoints(spark, cfg, n_batches=4, max_batches=2)
    assert r1["ran"] == [0, 1] and not r1["complete"]
    manifests = read_manifests(out)
    assert set(manifests) == {0, 1}
    mtimes = {b: os.path.getmtime(
        f"{out}/_manifests/batch_{b:05d}.json") for b in (0, 1)}

    # simulate a partial uncommitted write of batch 2
    os.makedirs(f"{out}/routed/batch=2/sink=sink_0", exist_ok=True)
    with open(f"{out}/routed/batch=2/sink=sink_0/garbage.parquet", "w") as f:
        f.write("partial")

    # phase 2: resume
    r2 = run_with_checkpoints(spark, cfg, n_batches=4)
    assert r2["skipped"] == [0, 1]
    assert r2["ran"] == [2, 3]
    assert r2["complete"]
    # committed manifests untouched (no recomputation)
    for b in (0, 1):
        assert os.path.getmtime(
            f"{out}/_manifests/batch_{b:05d}.json") == mtimes[b]

    # converges to the full-pipeline result
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == 300
    assert routed.select("doc_id").distinct().count() == 300
    assert r2["rows"] == 300

    # manifests carry lineage predicates + metrics
    m = json.load(open(f"{out}/_manifests/batch_00003.json"))
    assert "pmod(xxhash64(doc_id), 4) = 3" == m["predicate"]
    assert m["rows"] + sum(
        read_manifests(out)[b]["rows"] for b in (0, 1, 2)) == 300


def test_checkpoint_totals_match_plain_run(spark, small_dataset, tmp_path):
    out = str(tmp_path / "ckpt2")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)
    r = run_with_checkpoints(spark, cfg, n_batches=3)
    assert r["complete"] and r["rows"] == 300
    summ = spark.read.parquet(f"{out}/agg_sink_summary")
    assert summ.groupBy().sum("n_rows").collect()[0][0] == 300


def test_salt_does_not_track_the_batch(spark, small_dataset):
    """Inside one checkpoint batch the salt must still spread rows: a
    salt from the batch's own hash would take only 2 of 16 values in
    each of 8 batches, giving a heavy sink 2 reducers."""
    logs = read_tokens(spark, f"{small_dataset}/tokenized_logs.parquet")
    one_batch = logs.filter(batch_of(8) == 3)
    assert one_batch.select(salt(16)).distinct().count() > 2


def test_checkpoint_writes_are_salted(spark, small_dataset, tmp_path):
    """Each batch writes through the salted fan-out: with one salt
    bucket every sink of a batch is one reducer, hence one file, however
    many scan tasks fed it."""
    in_dir = tmp_path / "in"
    (spark.read.parquet(f"{small_dataset}/tokenized_logs.parquet")
     .repartition(4).write.parquet(str(in_dir / "tokenized_logs.parquet")))
    shutil.copy(f"{small_dataset}/route_metadata.parquet", in_dir)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(in_dir=str(in_dir), out_dir=out, salt_buckets=1)
    r = run_with_checkpoints(spark, cfg, n_batches=2)
    assert r["complete"] and r["rows"] == 300
    sink_dirs = glob.glob(f"{out}/routed/batch=*/sink=*")
    assert len(sink_dirs) > 2
    for d in sink_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d
