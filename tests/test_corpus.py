"""Semantic contracts for the corpus-management operators (the oracle
hash-checks values; these assert the PROPERTIES that make the operators
fit for a 100 TB pipeline)."""

from __future__ import annotations

from pyspark.sql import functions as F

from covid_data_pipeline_spark.io import load
from covid_data_pipeline_spark.registry import load_all

from .conftest import SF_ORACLE


def test_sample_is_deterministic_and_stratified(spark):
    reg = load_all()
    a = {r["doc_id"] for r in reg["sample_stratified_hash"].fn(spark, SF_ORACLE).collect()}
    b = {r["doc_id"] for r in reg["sample_stratified_hash"].fn(spark, SF_ORACLE).collect()}
    assert a == b  # reproducible: same sample, run to run
    # per-lang rate lands near the configured percent (hash uniformity)
    from covid_data_pipeline_spark.queries.corpus import _LANG_PCT

    totals = {
        r["lang"]: r["n"]
        for r in load(spark, SF_ORACLE, "documents").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    sampled = {
        r["lang"]: r["n"]
        for r in reg["sample_stratified_hash"].fn(spark, SF_ORACLE).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, pct in _LANG_PCT.items():
        got = 100.0 * sampled.get(lang, 0) / totals[lang]
        assert abs(got - pct) <= 18, (lang, got, pct)  # ~100 docs/lang at sf0.01


def test_merge_upsert_latest_wins(spark):
    reg = load_all()
    rows = reg["merge_upsert_latest"].fn(spark, SF_ORACLE).collect()
    docs = load(spark, SF_ORACLE, "documents")
    assert len(rows) == docs.count()  # exactly one surviving row per key
    updated_ids = {
        r["doc_id"]
        for r in docs.filter(F.col("source").isin("src0", "src1", "src2")).collect()
    }
    for r in rows:
        assert r["origin"] == ("update" if r["doc_id"] in updated_ids else "base")


def test_gapfill_densifies_and_fills_forward(spark):
    reg = load_all()
    out = reg["ts_gapfill_ffill"].fn(spark, SF_ORACLE)
    e = load(spark, SF_ORACLE, "events")
    n_users = e.select("user_id").distinct().count()
    n_days = (
        e.agg(
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("d")
        ).collect()[0]["d"]
        + 1
    )
    assert out.count() == n_users * n_days  # dense spine
    # forward fill: nulls only allowed before a user's first observation
    w_rows = out.orderBy("user_id", "day").collect()
    seen_value: dict[int, bool] = {}
    for r in w_rows:
        u = r["user_id"]
        if r["v_filled"] is not None:
            seen_value[u] = True
        else:
            assert not seen_value.get(u, False), f"null after value for user {u}"


def test_pack_sequences_bins_are_contiguous_and_budgeted(spark):
    """Greedy sequential fill: per lang, bin ids are a contiguous 0..m
    range; every bin except the last STARTS under budget (a doc may
    overflow its bin, never open a new one early)."""
    from covid_data_pipeline_spark.queries.corpus import _PACK_BUDGET

    reg = load_all()
    rows = reg["corpus_pack_sequences"].fn(spark, SF_ORACLE).collect()
    d = load(spark, SF_ORACLE, "documents")
    max_tok = d.agg(
        F.max(F.ceil(F.col("n_chars").cast("double") / 4)).alias("m")
    ).collect()[0]["m"]
    by_lang: dict[str, dict[int, int]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bin_id"]] = r["bin_tokens"]
    for lang, bins in by_lang.items():
        ids = sorted(bins)
        # contiguous while every doc < budget (none spans multiple bins)
        assert ids == list(range(len(ids))), (lang, ids[:5])
        # a bin closes only when the next doc starts past the boundary,
        # so it can fall short of budget by at most one doc's tokens
        for b in ids[:-1]:
            assert bins[b] > _PACK_BUDGET - max_tok, (lang, b, bins[b])


def test_sample_topk_per_group_bounds_and_determinism(spark):
    from covid_data_pipeline_spark.queries.corpus import _RESERVOIR_K

    reg = load_all()
    a = reg["sample_topk_per_group"].fn(spark, SF_ORACLE).collect()
    b = reg["sample_topk_per_group"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    per_group: dict[tuple, int] = {}
    for r in a:
        per_group[(r["lang"], r["source"])] = per_group.get((r["lang"], r["source"]), 0) + 1
    assert per_group and all(v <= _RESERVOIR_K for v in per_group.values())


def test_quality_filter_funnel_partitions_corpus(spark):
    """Every doc gets exactly one verdict: funnel counts sum to corpus
    size, per language."""
    reg = load_all()
    rows = reg["quality_filter_funnel"].fn(spark, SF_ORACLE).collect()
    d = load(spark, SF_ORACLE, "documents")
    per_lang_total: dict[str, int] = {}
    for r in rows:
        per_lang_total[r["lang"]] = per_lang_total.get(r["lang"], 0) + r["n_docs"]
    truth = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_lang_total == truth


def test_compact_small_files_reduces_file_count(spark):
    reg = load_all()
    row = reg["sink_compact_small_files"].fn(spark, SF_ORACLE).collect()[0]
    assert row["files_before"] == 64
    assert 1 <= row["files_after"] < row["files_before"]
    d = load(spark, SF_ORACLE, "documents")
    assert row["n_rows"] == d.count()  # compaction loses nothing


def test_scan_scratch_is_per_process_and_removed_at_exit(tmp_path):
    """Side-effect queries write under scans.scratch_path: by default a
    dir private to the process and gone once it exits, so concurrent
    runs never share one; under $SPARK_GRAFT_SCRATCH the path is
    exactly $SPARK_GRAFT_SCRATCH/cdp_spark_scratch/<name>."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from covid_data_pipeline_spark.queries.scans import scratch_path\n"
        "p = scratch_path('probe'); os.makedirs(p); print(p)\n"
    )
    env = {k: v for k, v in os.environ.items() if "SPARK_GRAFT_" not in k}

    def probe():
        return subprocess.run(
            [sys.executable, "-c", code],
            env=env, cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()

    first, second = probe(), probe()
    assert first != second
    for path in (first, second):
        base, tail = path.split(os.sep + "cdp_spark_scratch" + os.sep)
        assert tail == "probe"
        assert not os.path.exists(base), f"{base} outlived its process"
    env["SPARK_GRAFT_SCRATCH"] = str(tmp_path)
    assert probe() == os.path.join(str(tmp_path), "cdp_spark_scratch", "probe")


def test_warehouse_lives_in_process_scratch_without_dev_shm(tmp_path):
    """The session's catalog warehouse sits in the per-process scratch
    dir, so on a box without a writable /dev/shm it goes to a private
    temp dir, removed at exit, and never to the caller's working dir;
    $SPARK_GRAFT_WAREHOUSE still overrides it."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "real = os.access\n"
        "os.access = lambda p, m: p != '/dev/shm' and real(p, m)\n"
        "from covid_data_pipeline_spark.io import process_scratch, warehouse_dir\n"
        "print(process_scratch()); print(warehouse_dir())\n"
    )
    env = {k: v for k, v in os.environ.items() if "SPARK_GRAFT_" not in k}
    env["PYTHONPATH"] = repo

    def probe():
        return subprocess.run(
            [sys.executable, "-c", code],
            env=env, cwd=tmp_path, capture_output=True, text=True, check=True,
        ).stdout.split()

    scratch, warehouse = probe()
    assert not scratch.startswith("/dev/shm")
    assert warehouse == os.path.join(scratch, "warehouse")
    assert not os.path.exists(scratch), f"{scratch} outlived its process"
    assert os.listdir(tmp_path) == []
    env["SPARK_GRAFT_WAREHOUSE"] = str(tmp_path / "wh")
    assert probe()[1] == str(tmp_path / "wh")


def test_jdbc_sink_keeps_derby_log_out_of_the_working_dir(tmp_path):
    """Embedded Derby logs to the JVM's working directory when it boots;
    sink_jdbc_roundtrip points that log into its scratch instead."""
    import os
    import subprocess
    import sys

    from .conftest import SF_SMOKE

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from covid_data_pipeline_spark.registry import load_all\n"
        "from covid_data_pipeline_spark.session import get_spark\n"
        "spark = get_spark('derby-probe', cpus=1)\n"
        f"load_all()['sink_jdbc_roundtrip'].fn(spark, {SF_SMOKE!r}).collect()\n"
    )
    scratch = tmp_path / "scratch"
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_SCRATCH=str(scratch))
    run = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert not (tmp_path / "derby.log").exists()
    assert (scratch / "cdp_spark_scratch" / "derby.log").exists()


def test_positional_delete_spans_multiple_files(spark):
    """The deletion-vector mechanics must be exercised across file
    boundaries: the base table is written as multiple parquet files and
    the persisted delete file must reference more than one distinct
    data-file path — otherwise the (file_path, row_pos) compound key
    degenerates to a row-number check on a single file."""
    from covid_data_pipeline_spark.queries.scans import scratch_path

    reg = load_all()
    reg["sink_positional_delete"].fn(spark, SF_ORACLE).collect()
    deletes = spark.read.parquet(scratch_path("posdel_deletes"))
    n_files = deletes.select("file_path").distinct().count()
    n_pos = deletes.count()
    assert n_files > 1, f"delete file references only {n_files} data file"
    assert n_pos > 0, "no deleted positions recorded"
    # positions are per-file row indexes: each (file, pos) is unique
    assert deletes.distinct().count() == n_pos


def test_shuffle_order_epochs_are_distinct_permutation_heads(spark):
    """Two epochs must yield different head orders over the same corpus
    (the multi-epoch property), and each head must be duplicate-free."""
    reg = load_all()
    rows = reg["corpus_shuffle_order"].fn(spark, SF_ORACLE).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append((r["pos"], r["doc_id"]))
    assert set(by_epoch) == {1, 2}
    e1 = [d for _, d in sorted(by_epoch[1])]
    e2 = [d for _, d in sorted(by_epoch[2])]
    assert len(e1) == len(set(e1)) and len(e2) == len(set(e2))
    assert e1 != e2, "epoch orders identical — the epoch seed is inert"


def test_parquet_footer_profile_matches_logical_counts(spark):
    """profile_parquet_footers' physical row counts must equal the
    logical per-type counts, with a sane layout (>=1 file and >=1 row
    group per file on average)."""
    from covid_data_pipeline_spark.registry import load_all

    reg = load_all()
    got = {
        r["event_type"]: (r["n_files"], r["n_rows"], r["n_row_groups"])
        for r in reg["profile_parquet_footers"].fn(spark, SF_ORACLE).collect()
    }
    want = {
        r["event_type"]: r["count"]
        for r in spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert set(got) == set(want)
    for et, (nf, nr, ng) in got.items():
        assert nr == want[et], (et, nr, want[et])
        assert nf >= 1 and ng >= nf  # at least one row group per file


def test_bottomk_sketch_is_mergeable(spark):
    """THE KMV property: bottom-k of the union of two shards' bottom-k
    sketches equals the whole corpus's bottom-k — merges ship k rows,
    never data.  Rebuild the sketch from parity-split shards and
    assert exact equality with the registered query's sample set."""
    from pyspark.sql import Window, functions as F

    from covid_data_pipeline_spark.queries._helpers import KNUTH_MOD, KNUTH_MULT
    from covid_data_pipeline_spark.queries.corpus import _KMV_K
    from covid_data_pipeline_spark.registry import load_all

    reg = load_all()
    want = {
        (r["event_type"], r["rk"], r["user_id"])
        for r in reg["sample_bottomk_sketch"].fn(spark, SF_ORACLE).collect()
    }
    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    w = Window.partitionBy("event_type").orderBy("h", "user_id")

    def bottom(df):
        return (
            df.select("event_type", "user_id")
            .distinct()
            .withColumn("h", (F.col("user_id") * KNUTH_MULT) % KNUTH_MOD)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _KMV_K)
        )

    s0 = bottom(e.filter(F.col("event_id") % 2 == 0))
    s1 = bottom(e.filter(F.col("event_id") % 2 == 1))
    merged = (
        s0.unionByName(s1)
        .select("event_type", "user_id", "h")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
    )
    got = {
        (r["event_type"], r["rk"], r["user_id"]) for r in merged.collect()
    }
    assert got == want
