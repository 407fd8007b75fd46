"""Drive the spark-submit entry point in-process (getOrCreate attaches to
the test session): resume semantics + the r2 KLL drift option."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

from schisma_spark.image.fixtures import images_table


def _run(capsys, argv):
    sys.path.insert(0, "/root/repo/jobs")
    import validate_images_job

    validate_images_job.main(argv)
    out = capsys.readouterr()
    return json.loads(out.out.strip().splitlines()[-1]), out.err


def test_job_end_to_end_with_kll_drift(spark, tmp_path, capsys):
    inp = str(tmp_path / "in")
    images_table(spark, 300, seed=42).write.mode("overwrite").parquet(inp)
    args = [
        "--input", inp,
        "--violations", str(tmp_path / "viols"),
        "--verdicts", str(tmp_path / "verd"),
        "--manifest", str(tmp_path / "m"),
        "--kll-col", "w",
        "--kll-baseline", str(tmp_path / "kll_base"),
    ]
    res1, err1 = _run(capsys, args)
    assert res1["rows_processed"] == 300
    assert res1["partitions_done_this_run"] > 0
    assert "kll_baseline_written" in err1  # first run creates the baseline

    # resumed run on the same manifest: nothing left to do
    res2, _ = _run(capsys, args)
    assert res2["rows_processed"] == 0

    # fresh manifest, same data + existing baseline: drift compare runs
    args2 = args.copy()
    args2[args2.index(str(tmp_path / "m"))] = str(tmp_path / "m2")
    res3, err3 = _run(capsys, args2)
    assert res3["rows_processed"] == 300
    drift = json.loads(err3.strip().splitlines()[-1])
    assert drift["drift_ks_vs_baseline"] < 0.08  # same distribution

    viols = spark.read.parquet(str(tmp_path / "viols"))
    assert viols.count() > 0


def test_curate_corpus_job_end_to_end(spark, tmp_path, capsys):
    """r5: the curation spark-submit entry — one decision row per input
    document in the committed sink, run-level manifest with per-reason
    metrics, idempotent re-run, optional stratified sample sink."""
    from pyspark.sql import Row

    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus_job

    good = ("the quick brown fox jumps over the lazy dog while the other "
            "animals watch from the shade of an old oak tree nearby")
    rows = []
    for i in range(60):
        if i % 7 == 0:
            txt = "too short"
        elif i % 11 == 0:
            txt = good                       # exact-dup group
        else:
            txt = f"{good} variant number {i} with its own distinct tail"
        rows.append(Row(doc_id=i, text=txt,
                        lang="en" if i % 3 else "de"))
    inp = str(tmp_path / "docs")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(inp)

    argv = [
        "--input", inp,
        "--decisions", str(tmp_path / "dec"),
        "--manifest", str(tmp_path / "man"),
        "--threshold", "0.4",
        "--strata", "lang", "--n-per-stratum", "5",
        "--sample", str(tmp_path / "sample"),
    ]
    curate_corpus_job.main(argv)
    out = capsys.readouterr()
    res = json.loads(out.out.strip().splitlines()[-1])
    assert res["rows_decided"] == 60
    assert res["reasons"].get("low_quality", 0) > 0
    assert res["reasons"].get("exact_dup", 0) > 0
    assert res["reasons"].get("ok", 0) > 0

    dec = spark.read.parquet(str(tmp_path / "dec"))
    assert dec.count() == 60

    # down-sample sink: at most n per stratum, only kept docs
    samp = spark.read.parquet(str(tmp_path / "sample"))
    from pyspark.sql import functions as F
    per = {r["lang"]: r["n"] for r in
           samp.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 5 for n in per.values())
    kept = {r["doc_id"] for r in dec.where("keep").collect()}
    assert {r["doc_id"] for r in samp.collect()} <= kept

    # idempotent re-run: same run id -> skipped, sink NOT double-appended
    curate_corpus_job.main(argv)
    out2 = capsys.readouterr()
    res2 = json.loads(out2.out.strip().splitlines()[-1])
    assert res2.get("skipped") is True
    assert spark.read.parquet(str(tmp_path / "dec")).count() == 60

    # a DIFFERENT run id appends to the same sink, but its manifest
    # metrics count only ITS OWN decisions (r5 self-review: a re-read of
    # the appended sink would have reported 120)
    curate_corpus_job.main(argv + ["--run-id", "second"])
    out3 = capsys.readouterr()
    res3 = json.loads(out3.out.strip().splitlines()[-1])
    assert res3["rows_decided"] == 60
    assert spark.read.parquet(str(tmp_path / "dec")).count() == 120


def test_curate_corpus_job_rejects_cc_shortcut(capsys):
    """Clusters always pointer-jump, so the old ``--cc-shortcut`` flag is
    an argparse error, raised before any session is attached."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import curate_corpus_job

    with pytest.raises(SystemExit):
        curate_corpus_job.main(["--input", "x", "--decisions", "y",
                                "--manifest", "z", "--cc-shortcut"])
    assert "--cc-shortcut" in capsys.readouterr().err


def test_job_baseline_compare_errors_propagate(spark, tmp_path, capsys):
    """r2 ADVICE: only a genuinely-absent baseline triggers the first-run
    write; a schema-mismatched (or otherwise broken) baseline must RAISE,
    not be silently overwritten — that would reset the drift history and
    mask real drift."""
    inp = str(tmp_path / "in")
    images_table(spark, 100, seed=7).write.mode("overwrite").parquet(inp)
    bad_base = str(tmp_path / "kll_base")
    spark.createDataFrame([(1,)], "foo int").write.parquet(bad_base)
    args = [
        "--input", inp,
        "--violations", str(tmp_path / "viols"),
        "--verdicts", str(tmp_path / "verd"),
        "--manifest", str(tmp_path / "m"),
        "--kll-col", "w",
        "--kll-baseline", bad_base,
    ]
    with pytest.raises(Exception):
        _run(capsys, args)
    # the broken baseline is untouched — no silent drift-history reset
    assert spark.read.parquet(bad_base).columns == ["foo"]


def test_violation_history_job_colocated_no_exchange(spark, tmp_path, capsys):
    """r2 VERDICT #7: the bucketed-write layout drives a real job — two
    runs append history, and the recurrence report's agg+join plan is
    exchange-free (asserted inside the job; a shuffle anywhere raises)."""
    import validate_images_job  # noqa: F401  (ensures jobs/ on sys.path)
    import violation_history_job

    inp = str(tmp_path / "in")
    images_table(spark, 400, seed=11).write.mode("overwrite").parquet(inp)
    spark.sql("DROP TABLE IF EXISTS t_viol_hist")
    spark.sql("DROP TABLE IF EXISTS t_viol_cur")

    def run(run_id):
        violation_history_job.main([
            "--input", inp, "--run-id", run_id,
            "--history-table", "t_viol_hist",
            "--current-table", "t_viol_cur",
            "--report", str(tmp_path / "report"),
            "--buckets", "8",
        ])
        out = capsys.readouterr().out.strip().splitlines()[-1]
        return json.loads(out)

    r1 = run("r1")
    assert r1["exchange_free_report"] and r1["violations_appended"] > 0
    r2 = run("r2")
    assert r2["exchange_free_report"]

    rep = spark.read.parquet(str(tmp_path / "report"))
    row = rep.orderBy("image_id").collect()[0]
    # after two identical runs every flagged image has 2x history
    assert row["n_hist"] == 2 * row["n_now"]
    assert row["last_run"] == "r2"
    spark.sql("DROP TABLE IF EXISTS t_viol_hist")
    spark.sql("DROP TABLE IF EXISTS t_viol_cur")


def test_decontaminate_job_end_to_end(spark, tmp_path, capsys):
    """r6: the decontamination spark-submit entry — one decision row per
    corpus document, run-level manifest with flagged/clean metrics,
    idempotent re-run by run id."""
    from pyspark.sql import Row

    sys.path.insert(0, "/root/repo/jobs")
    import decontaminate_job

    leak = ("the capital of france is paris and the capital of spain "
            "is madrid according to the benchmark answer key")
    rows = []
    for i in range(40):
        if i % 10 == 0:
            txt = leak                                  # verbatim leak
        else:
            txt = f"organic training document number {i} about spark " \
                  f"engines and distributed aggregation pipelines"
        rows.append(Row(doc_id=i, text=txt))
    inp = str(tmp_path / "corpus")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(inp)
    ev = str(tmp_path / "eval")
    spark.createDataFrame([Row(text=leak)]).write.mode(
        "overwrite").parquet(ev)

    argv = [
        "--input", inp,
        "--eval", ev,
        "--decisions", str(tmp_path / "dec"),
        "--manifest", str(tmp_path / "man"),
        "--min-overlap", "2",
    ]
    decontaminate_job.main(argv)
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows_decided"] == 40
    assert res["flagged"] == 4                    # the %10 leaks, no more

    dec = spark.read.parquet(str(tmp_path / "dec"))
    assert dec.count() == 40
    flagged = {r["doc_id"] for r in dec.where("contaminated").collect()}
    assert flagged == {0, 10, 20, 30}

    # idempotent re-run: skipped, sink not double-appended
    decontaminate_job.main(argv)
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2.get("skipped") is True
    assert spark.read.parquet(str(tmp_path / "dec")).count() == 40


def test_curate_job_decontam_and_pack_stages(spark, tmp_path, capsys):
    """r6: the curation job's --eval gate drops contaminated docs with
    their own reason, and --pack-budget/--packed writes the kept set's
    window assignments (only kept docs, every kept doc, fill metrics in
    the manifest)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus_job

    good = ("the quick brown fox jumps over the lazy dog while the other "
            "animals watch from the shade of an old oak tree nearby")
    leak = ("the capital of france is paris and the answer to the "
            "benchmark question is forty two exactly as the key says")
    rows = []
    for i in range(50):
        if i % 10 == 0:
            txt = leak
        elif i % 7 == 0:
            txt = "too short"
        else:
            txt = f"{good} variant number {i} with its own distinct tail"
        rows.append(Row(doc_id=i, text=txt))
    inp = str(tmp_path / "docs")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(inp)
    ev = str(tmp_path / "eval")
    spark.createDataFrame([Row(text=leak)]).write.mode(
        "overwrite").parquet(ev)

    argv = [
        "--input", inp,
        "--decisions", str(tmp_path / "dec"),
        "--manifest", str(tmp_path / "man"),
        "--threshold", "0.4",
        "--eval", ev, "--decontam-min-overlap", "2",
        "--pack-budget", "64", "--packed", str(tmp_path / "packed"),
    ]
    curate_corpus_job.main(argv)
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows_decided"] == 50
    assert res["reasons"].get("contaminated", 0) == 5   # the %10 leaks

    dec = spark.read.parquet(str(tmp_path / "dec"))
    kept = {r["doc_id"] for r in dec.where("keep").collect()}
    assert not any(i % 10 == 0 for i in kept)

    packed = spark.read.parquet(str(tmp_path / "packed"))
    assert {r["doc_id"] for r in packed.collect()} == kept
    assert packed.where(
        (F.col("offset") < 0) | (F.col("offset") >= 64)).count() == 0

    man = spark.read.json(str(tmp_path / "man"))
    m = man.orderBy("partition").collect()[0]["metrics"]
    assert m["packed_docs"] == len(kept)
    assert m["n_seqs"] >= 1 and 0.0 < m["fill_rate"] <= 1.0

    # idempotency key is parameter-sensitive (r6 self-review): the SAME
    # argv is skipped, but changing a kept-set-affecting parameter
    # (here the decontam threshold) is a NEW run, not a stale skip
    curate_corpus_job.main(argv)
    rerun = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rerun.get("skipped") is True
    changed_argv = list(argv)
    changed_argv[changed_argv.index("--decontam-min-overlap") + 1] = "3"
    curate_corpus_job.main(changed_argv)
    changed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert changed.get("skipped") is not True
    assert changed["rows_decided"] == 50


def test_decontaminate_job_pairs_sink(spark, tmp_path, capsys):
    """r6: --pairs writes the leak-attribution rows naming which eval
    doc each flagged corpus doc overlaps."""
    from pyspark.sql import Row

    sys.path.insert(0, "/root/repo/jobs")
    import decontaminate_job

    leak = ("the capital of france is paris and the capital of spain "
            "is madrid according to the benchmark answer key")
    rows = [Row(doc_id=i, text=leak if i in (2, 9) else
                f"organic doc {i} about partitions and skew handling")
            for i in range(12)]
    inp = str(tmp_path / "corpus")
    spark.createDataFrame(rows).write.parquet(inp)
    ev = str(tmp_path / "eval")
    spark.createDataFrame([Row(eval_id=7, text=leak)]).write.parquet(ev)

    decontaminate_job.main([
        "--input", inp, "--eval", ev,
        "--decisions", str(tmp_path / "dec"),
        "--manifest", str(tmp_path / "man"),
        "--min-overlap", "2",
        "--pairs", str(tmp_path / "pairs"), "--eval-id-col", "eval_id",
    ])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["flagged"] == 2
    got = {(r["doc_id"], r["eval_id"]) for r in
           spark.read.parquet(str(tmp_path / "pairs")).collect()}
    assert got == {(2, 7), (9, 7)}
