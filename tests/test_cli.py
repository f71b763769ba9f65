"""CLI lint runner: config discovery, routing, report, sinks, exit codes
(the reference's `pnpm remark .` lifecycle, README.md:297-307)."""

import json
import os

import pytest

from remark_lint_frontmatter_schema_spark import cli


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "O", 10.0, "clip"), (2, "X", -5.0, "clip"), (3, "O", 3.0, None)],
        ["id", "status", "price", "ruleset_id"])
    p = str(tmp_path / "t")
    df.write.parquet(p)
    return p


@pytest.fixture()
def config_dir(tmp_path):
    (tmp_path / "clip.schema.yaml").write_text(
        "properties:\n  status:\n    enum: [O, F]\n"
        "  price:\n    minimum: 0\n")
    (tmp_path / cli.CONFIG_BASENAME).write_text(
        "registry:\n  clip: clip.schema.yaml\nruleset_col: ruleset_id\n")
    return tmp_path


def test_cli_discovers_config_and_reports(table, config_dir, capsys):
    rc = cli.main([table, "--row-id", "id", "--report", "json"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    # row 2 violates enum + minimum; row 3 is unrouted (ruleset_id NULL)
    assert out["n_violations"] == 2
    assert out["passes"] == [{"ruleset": "clip", "source": "column"}]
    assert not out["errors"]


def test_cli_frail_exit_code(table, config_dir):
    assert cli.main([table, "--row-id", "id", "--report", "none",
                     "--frail"]) == 1


def test_cli_embed_and_sinks(spark, table, tmp_path, capsys):
    embed = tmp_path / "embed.yaml"
    embed.write_text("properties:\n  price:\n    maximum: 5\n")
    vout = str(tmp_path / "viols")
    rc = cli.main([table, "--row-id", "id", "--embed", str(embed),
                   "--violations-out", vout, "--report", "text"])
    assert rc == 0
    text = capsys.readouterr().out
    assert "warning" in text
    written = spark.read.parquet(vout)
    assert written.count() == 1  # price 10.0 > 5 (row 1 only)
    assert written.where("run_id = 'run_0'").count() == 1


def test_cli_config_error_surfaces(table, tmp_path, capsys):
    cfg = tmp_path / "cfg.yaml"
    (tmp_path / "bad.yaml").write_text("properties:\n  status:\n"
                                       "    pattern: '['\n")
    cfg.write_text("registry:\n  clip: bad.yaml\nruleset_col: ruleset_id\n")
    rc = cli.main([table, "--row-id", "id", "--config", str(cfg),
                   "--report", "json", "--frail"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 1
    assert out["errors"] and out["errors"][0]["stage"] == "compile"


def test_find_config_walks_up(tmp_path):
    deep = tmp_path / "a" / "b" / "c"
    os.makedirs(deep)
    assert cli.find_config(str(deep)) is None
    (tmp_path / cli.CONFIG_BASENAME).write_text("{}")
    assert cli.find_config(str(deep)) == str(tmp_path / cli.CONFIG_BASENAME)


def test_cli_ingest_mode(spark, tmp_path, capsys):
    from pyspark.sql import functions as F
    from remark_lint_frontmatter_schema_spark.functions import audio
    from remark_lint_frontmatter_schema_spark.sources import fixtures

    table = str(tmp_path / "clips")
    fixtures.write_clips(
        fixtures.generate_clips(spark, 200, audio_ms=40, num_partitions=2),
        table)
    embed = tmp_path / "gate.schema.yaml"
    embed.write_text(
        "type: object\nproperties:\n  codec:\n"
        "    enum: [pcm_s16le, flac, opus]\n  sr_hz:\n    minimum: 8000\n")
    out, man = str(tmp_path / "out"), str(tmp_path / "man.json")

    rc = cli.main([table, "--row-id", "clip_id",
                   "--partition-col", "part_date",
                   "--embed", str(embed), "--ingest-out", out,
                   "--manifest", man, "--ruleset-col", "ruleset_id",
                   "--fail-severities", "error,warning"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["accepted"] + res["quarantined"] == 200
    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.select(F.min(audio.canonical_wav_expr())).collect()[0][0]
    assert os.path.exists(man)
    # rerun: manifest short-circuits, nothing re-ingested
    rc2 = cli.main([table, "--row-id", "clip_id",
                    "--partition-col", "part_date",
                    "--embed", str(embed), "--ingest-out", out,
                    "--manifest", man, "--ruleset-col", "ruleset_id"])
    assert rc2 == 0
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["ingested"] == []


def test_cli_ingest_mode_requires_args(spark, tmp_path, capsys):
    df = spark.createDataFrame([(1,)], ["id"])
    p = str(tmp_path / "x")
    df.write.parquet(p)
    rc = cli.main([p, "--row-id", "id", "--ingest-out", str(tmp_path / "o")])
    assert rc == 2


def test_cli_fix_mode_repairs_then_relints(spark, table, tmp_path, capsys):
    # status enum+default and price bounds are repairable -> the re-lint
    # of the repaired copy is clean and --frail exits 0
    embed = tmp_path / "fix.yaml"
    embed.write_text(
        "properties:\n"
        "  status:\n    enum: [O, F]\n    default: F\n"
        "  price:\n    minimum: 0\n    maximum: 100\n")
    fixed = str(tmp_path / "fixed")
    log = str(tmp_path / "rlog")
    rc = cli.main([table, "--row-id", "id", "--embed", str(embed),
                   "--fix-out", fixed, "--repair-log-out", log,
                   "--report", "json", "--frail"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["n_violations"] == 0
    repaired = {r.id: r for r in spark.read.parquet(fixed).collect()}
    assert repaired[2].status == "F" and repaired[2].price == 0.0
    actions = {(r.row_id, r.action)
               for r in spark.read.parquet(log).collect()}
    assert ("2", "nullify_enum") in actions
    assert ("2", "fill_default") in actions
    assert ("2", "clamp_min") in actions
    # remark's --output rewrites in place: a second identical run must
    # overwrite both sinks, not crash on the existing paths
    rc2 = cli.main([table, "--row-id", "id", "--embed", str(embed),
                    "--fix-out", fixed, "--repair-log-out", log,
                    "--report", "none"])
    assert rc2 == 0


def test_cli_fix_mode_routes_without_embed(spark, table, config_dir,
                                           tmp_path, capsys):
    # no --embed: each row is repaired under its ROUTED ruleset (row 3
    # is unrouted -> untouched), then the repaired copy is re-linted
    fixed = str(tmp_path / "routed_fixed")
    log = str(tmp_path / "routed_log")
    rc = cli.main([table, "--row-id", "id", "--fix-out", fixed,
                   "--repair-log-out", log, "--report", "json",
                   "--frail"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["n_violations"] == 0
    repaired = {r.id: r for r in spark.read.parquet(fixed).collect()}
    assert repaired[2].status is None      # enum nullified, no default
    assert repaired[2].price == 0.0        # clamped to minimum
    assert repaired[3].price == 3.0        # unrouted row untouched
    log_rows = {(r.row_id, r.ruleset_id, r.action)
                for r in spark.read.parquet(log).collect()}
    assert log_rows == {("2", "clip", "nullify_enum"),
                        ("2", "clip", "clamp_min")}


def test_cli_prune_stats_skips_proven_files(tmp_path, capsys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "ptab"
    t.mkdir()
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "sr": pa.array([16000, 22050, 44100], pa.int64()),
    }), t / "clean.parquet")
    pq.write_table(pa.table({
        "id": pa.array([4, 5], pa.int64()),
        "sr": pa.array([96000, 8000], pa.int64()),
    }), t / "dirty.parquet")
    embed = tmp_path / "bounds.yaml"
    embed.write_text(
        "required: [id]\nproperties:\n  sr:\n    minimum: 8000\n"
        "    maximum: 48000\n")

    rc = cli.main([str(t), "--row-id", "id", "--embed", str(embed),
                   "--prune-stats", "--report", "json"])
    cap = capsys.readouterr()
    out = json.loads(cap.out)
    assert rc == 0
    assert out["n_violations"] == 1  # sr=96000
    assert out["passes"][0]["source"] == "embed+footer-stats"
    assert "skipped 1/2 files (3 rows proven clean" in cap.err


def test_cli_prune_stats_requires_embed(table, config_dir, capsys):
    assert cli.main([table, "--row-id", "id", "--prune-stats",
                     "--report", "none"]) == 2


def test_cli_resume_manifest_with_footer_proofs(spark, tmp_path, capsys):
    t = str(tmp_path / "rtab")
    rows = [(i, 100 + i % 40, ["a", "b"][i % 2]) for i in range(200)]
    rows.append((777, 9999, "b"))  # out-of-bounds row in partition b
    spark.createDataFrame(rows, "id long, v long, pt string") \
        .write.partitionBy("pt").parquet(t)
    embed = tmp_path / "rb.yaml"
    embed.write_text("required: [id]\nproperties:\n  v:\n"
                     "    minimum: 0\n    maximum: 1000\n")
    man = str(tmp_path / "rman.json")

    argv = [t, "--row-id", "id", "--embed", str(embed),
            "--partition-col", "pt", "--resume-manifest", man,
            "--prune-stats"]
    rc = cli.main(argv)
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["proven_by_footer_stats"] == ["a"]   # clean by footers
    assert sorted(out["validated"]) == ["a", "b"]
    assert [v["partition_id"] for v in out["verdicts"]] == ["b"]
    assert not out["verdicts"][0]["passed"]

    # rerun: everything already recorded; --frail still exits 0 (nothing
    # re-validated, no failing verdict THIS run)
    rc2 = cli.main(argv + ["--frail"])
    out2 = json.loads(capsys.readouterr().out)
    assert rc2 == 0 and out2["validated"] == []
    assert sorted(out2["skipped"]) == ["a", "b"]


def test_cli_resume_manifest_requires_args(table, tmp_path, capsys):
    assert cli.main([table, "--row-id", "id",
                     "--resume-manifest", str(tmp_path / "m.json")]) == 2


def test_cli_fix_out_composes_with_resume_manifest(spark, tmp_path, capsys):
    """--fix-out + --resume-manifest: the REPAIRED copy is the table of
    record — it is written partitioned, validated, and fingerprinted in
    the manifest (not the unrepaired input)."""
    t = str(tmp_path / "frtab")
    rows = [(i, -5 if i % 10 == 0 else 50, ["a", "b"][i % 2])
            for i in range(100)]
    spark.createDataFrame(rows, "id long, v long, pt string") \
        .write.partitionBy("pt").parquet(t)
    embed = tmp_path / "fr.yaml"
    embed.write_text("required: [id]\nproperties:\n  v:\n    minimum: 0\n"
                     "    maximum: 1000\n    default: 0\n")
    fixed = str(tmp_path / "fixed")

    rc = cli.main([t, "--row-id", "id", "--embed", str(embed),
                   "--partition-col", "pt", "--fix-out", fixed,
                   "--resume-manifest", str(tmp_path / "frman.json"),
                   "--prune-stats"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    # repair clamped every v into bounds, so the repaired copy is
    # footer-proven clean everywhere — zero scan, no failing verdicts
    assert sorted(out["proven_by_footer_stats"]) == ["a", "b"]
    assert out["verdicts"] == []
    # the repaired copy kept the partition layout the resume layer needs
    import os
    assert sorted(d for d in os.listdir(fixed) if d.startswith("pt=")) \
        == ["pt=a", "pt=b"]
    # and the fixed table really is clean
    assert spark.read.parquet(fixed).where("v < 0").count() == 0


def test_cli_resume_manifest_reports_run_over_run_regressions(
        spark, tmp_path, capsys):
    """Rerun after a partition shrank and went dirty: the resume layer
    re-validates exactly that partition (fingerprint change) and the
    summary carries the manifest regressions between the two runs."""
    t = str(tmp_path / "regtab")
    rows = [(i, 50, ["a", "b"][i % 2]) for i in range(200)]
    spark.createDataFrame(rows, "id long, v long, pt string") \
        .write.partitionBy("pt").parquet(t)
    embed = tmp_path / "reg.yaml"
    embed.write_text("required: [id]\nproperties:\n  v:\n"
                     "    minimum: 0\n    maximum: 1000\n")
    man = str(tmp_path / "regman.json")
    argv = [t, "--row-id", "id", "--embed", str(embed),
            "--partition-col", "pt", "--resume-manifest", man]

    assert cli.main(argv) == 0
    first = json.loads(capsys.readouterr().out)
    assert first["regressions"] == []          # no history yet

    # partition b shrinks 100 -> 20 rows and gains violations
    import shutil
    shutil.rmtree(os.path.join(t, "pt=b"))
    bad = [(1000 + i, -1 if i % 2 else 10, "b") for i in range(20)]
    spark.createDataFrame(bad, "id long, v long, pt string") \
        .write.mode("append").partitionBy("pt").parquet(t)

    assert cli.main(argv) == 0
    err = capsys.readouterr()
    out2 = json.loads(err.out)
    assert out2["validated"] == ["b"] and out2["skipped"] == ["a"]
    kinds = {r["kind"] for r in out2["regressions"]}
    assert kinds == {"row_count_drop", "violation_rate_jump",
                     "pass_regression"}
    assert all(r["partition_id"] == "b" for r in out2["regressions"])
    assert "manifest regression [row_count_drop]" in err.err


def test_cli_workspace_mode(spark, tmp_path, capsys):
    """`remark .` over a directory of tables: per-table routing via the
    config's tables: glob map, unmatched tables skipped, one combined
    summary, config defects become artifacts (G2), --frail exit code."""
    root = tmp_path / "ws"
    root.mkdir()
    spark.createDataFrame([(1, "O"), (2, "X")], "id long, status string") \
        .write.parquet(str(root / "orders_2024"))
    spark.createDataFrame([(1, 5.0), (2, -3.0)], "id long, v double") \
        .write.parquet(str(root / "metrics"))
    spark.createDataFrame([(9,)], "id long") \
        .write.parquet(str(root / "scratch"))          # no glob matches
    spark.createDataFrame([(1,)], "id long") \
        .write.parquet(str(root / "orders_bad"))       # ruleset missing
    (root / "orders.schema.yaml").write_text(
        "properties:\n  status:\n    enum: [O, F]\n")
    (root / "metrics.schema.yaml").write_text(
        "properties:\n  v:\n    minimum: 0\n")
    (root / cli.CONFIG_BASENAME).write_text(
        "registry:\n"
        "  orders: orders.schema.yaml\n"
        "  metrics: metrics.schema.yaml\n"
        "tables:\n"
        "  orders: ['orders_2024']\n"
        "  metrics: ['metr*']\n"
        "  ghost: ['orders_bad']\n")
    vout = str(tmp_path / "viol")
    rc = cli.main([str(root), "--row-id", "id", "--workspace",
                   "--violations-out", vout])
    # first stdout line is the JSON summary; the text report follows
    out = json.loads(capsys.readouterr().out.splitlines()[0])
    assert rc == 0
    t = out["tables"]
    assert t["orders_2024"] == {"ruleset": "orders", "n_rows": 2,
                                "n_violations": 1, "n_failed_rows": 1,
                                "passed": False}
    assert t["metrics"]["ruleset"] == "metrics"
    assert t["metrics"]["n_violations"] == 1
    assert t["scratch"] == {"ruleset": None, "skipped": True}
    assert t["orders_bad"]["ruleset"] == "ghost" and "error" in t["orders_bad"]
    assert out["errors"] and out["errors"][0][0] == "orders_bad"
    # combined sink carries the table column
    v = spark.read.parquet(vout)
    assert {r.table for r in v.select("table").collect()} == \
        {"orders_2024", "metrics"}
    # frail: config error + failing tables -> exit 1
    assert cli.main([str(root), "--row-id", "id", "--workspace",
                     "--frail"]) == 1
    capsys.readouterr()


def test_cli_induce_mode_round_trips(spark, tmp_path, capsys):
    """--induce-out: profile a table into a ruleset draft, then lint the
    SAME table with the induced draft — zero violations, exit 0 even
    under --frail (the induce -> compile -> validate round-trip through
    the CLI surface)."""
    p = str(tmp_path / "cleants")
    spark.createDataFrame(
        [(1, "A", 10.0, "a@x.io"), (2, "B", 20.0, "b@y.org"),
         (3, "A", 15.0, "c@z.net"), (4, "B", 12.5, "d@w.com")],
        "id long, grade string, score double, mail string").write.parquet(p)
    out = str(tmp_path / "induced.yaml")
    rc = cli.main([p, "--row-id", "id", "--induce-out", out])
    meta = json.loads(capsys.readouterr().out)
    assert rc == 0 and meta["columns"] == 4
    assert meta["required"] == 4 and meta["enums"] >= 1
    assert meta["formats"] == 1   # mail -> email
    rc2 = cli.main([p, "--row-id", "id", "--embed", out,
                    "--report", "json", "--frail"])
    rep = json.loads(capsys.readouterr().out)
    assert rc2 == 0 and rep["n_violations"] == 0
    # a mutated table violates the induced draft
    p2 = str(tmp_path / "dirty")
    spark.createDataFrame(
        [(9, "Z", 999.0, "not-an-email")],
        "id long, grade string, score double, mail string") \
        .write.parquet(p2)
    rc3 = cli.main([p2, "--row-id", "id", "--embed", out,
                    "--report", "json", "--frail"])
    rep3 = json.loads(capsys.readouterr().out)
    assert rc3 == 1 and rep3["n_violations"] >= 3


def test_cli_dim_flag_feeds_x_ref(spark, tmp_path, capsys):
    fact = str(tmp_path / "fact")
    spark.createDataFrame([(1, 10), (2, 99)], ["id", "fk"]) \
        .write.parquet(fact)
    dimp = str(tmp_path / "dim")
    spark.createDataFrame([(10,)], ["dk"]).write.parquet(dimp)
    (tmp_path / "ref.schema.yaml").write_text(
        "properties:\n  fk:\n    x-ref: {dim: d, key: dk}\n")
    base = [fact, "--row-id", "id",
            "--embed", str(tmp_path / "ref.schema.yaml"),
            "--report", "json"]
    # without --dim: error artifact, no crash, zero ref violations
    rc = cli.main(base)
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["n_violations"] == 0
    assert any("dim 'd' not provided" in e["message"]
               for e in out["errors"])
    # with --dim: the dangling fk=99 row violates
    rc = cli.main(base + ["--dim", f"d={dimp}"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["n_violations"] == 1 and not out["errors"]
    # malformed spec is a usage error
    with pytest.raises(SystemExit):
        cli.main(base + ["--dim", "nonsense"])


def test_cli_workspace_runs_table_checks_with_dims(spark, tmp_path,
                                                   capsys):
    root = tmp_path / "ws2"
    root.mkdir()
    spark.createDataFrame([(1, 10), (2, 99), (2, 5)],
                          "id long, fk long") \
        .write.parquet(str(root / "facts"))
    dimp = str(tmp_path / "dimtab")
    spark.createDataFrame([(10,), (5,)], ["dk"]).write.parquet(dimp)
    (root / "facts.schema.yaml").write_text(
        "properties:\n"
        "  id: {x-unique: true}\n"
        "  fk: {x-ref: {dim: d, key: dk}}\n")
    (root / cli.CONFIG_BASENAME).write_text(
        "registry:\n  facts: facts.schema.yaml\n"
        "tables:\n  facts: ['facts']\n")
    base = [str(root), "--row-id", "id", "--workspace"]
    # without --dim: x-unique still runs; the missing dim is an artifact
    rc = cli.main(base)
    out = json.loads(capsys.readouterr().out.splitlines()[0])
    assert rc == 0
    assert out["tables"]["facts"]["n_violations"] == 1   # dup id only
    assert any("dim 'd' not provided" in e[2] for e in out["errors"])
    # with --dim: the dangling fk=99 row also violates
    rc = cli.main(base + ["--dim", f"d={dimp}"])
    out = json.loads(capsys.readouterr().out.splitlines()[0])
    assert rc == 0 and not out["errors"]
    assert out["tables"]["facts"]["n_violations"] == 2
    assert out["tables"]["facts"]["passed"] is False


def test_cli_dim_refused_on_unsupported_paths(spark, tmp_path, capsys):
    p = str(tmp_path / "t2")
    spark.createDataFrame([(1, 1.0)], "id long, v double").write.parquet(p)
    rc = cli.main([p, "--row-id", "id", "--induce-out",
                   str(tmp_path / "draft.yaml"), "--dim", "d=/nope"])
    assert rc == 2
    assert "--dim is only supported" in capsys.readouterr().err


def test_cli_builtin_audio_checks_reachable(spark, tmp_path, capsys):
    """A YAML ruleset referencing the engine's named x-spark-check audio
    registry works through the CLI (round 3: every CLI compile site
    passes the built-in registry; before, these names fell to unknown)."""
    import json as _json
    from remark_lint_frontmatter_schema_spark.functions import audio as _a
    rows = [("c1", _a.synth_wav(1, 16000, 120), 16000, 120, "pcm_s16le"),
            ("c2", b"\x00garbage", 16000, 120, "pcm_s16le"),
            ("c3", _a.ogg_opus_bytes(3, 16000, 90), 16000, 90, "opus")]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string")
    inp = str(tmp_path / "clips")
    df.write.parquet(inp)
    embed = tmp_path / "audio.yaml"
    embed.write_text(
        "properties:\n"
        "  bytes:\n"
        "    x-spark-check: codec_header\n")
    vout = str(tmp_path / "v")
    rc = cli.main([inp, "--row-id", "clip_id", "--embed", str(embed),
                   "--violations-out", vout, "--report", "json"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert not out["errors"]
    written = spark.read.parquet(vout)
    got = {r.row_id for r in written.collect()}
    assert got == {"c2"}
    assert {r.keyword for r in written.collect()} == {"x-spark-check"}


def test_cli_ops_ruleset_table_checks(spark, capsys):
    """The shipped operational ruleset (x-skew/x-calendar/x-freshness/
    x-benford/x-corr/composite x-unique) runs through the outermost CLI
    surface via --embed; the JSON report counts its table-check
    violations."""
    import json as _json
    rc = cli.main(["/root/testdata/sf0.001/events.parquet",
                   "--row-id", "event_id",
                   "--embed", "rulesets/ops.schema.yaml",
                   "--report", "json"])
    assert rc == 0
    out = capsys.readouterr().out
    payload = _json.loads(out.strip().splitlines()[-1])
    # table-level findings are deterministic on the fixed testdata
    # (see tests/test_ops_ruleset.py): stale freshness, hot-user skew,
    # value~user_id independence, outliers
    assert payload["n_violations"] > 0


def test_cli_main_releases_persisted_intermediates(table, tmp_path,
                                                   capsys):
    """x-skew persists its per-key counts (reuse=True registry); the
    single-table CLI path must free them once its last consumer ran, so
    repeated runs in one session do not accumulate cached blocks."""
    from remark_lint_frontmatter_schema_spark.operators import dedup
    embed = tmp_path / "skew.yaml"
    embed.write_text("properties:\n  status:\n"
                     "    x-skew:\n      max_share: 0.5\n")
    before = len(dedup._PERSISTED)
    for _ in range(2):
        rc = cli.main([table, "--row-id", "id", "--embed", str(embed),
                       "--report", "json"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out)
        assert out["n_violations"] == 1   # 'O' holds 2/3 of the rows
        assert len(dedup._PERSISTED) == before
