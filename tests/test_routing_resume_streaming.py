"""Routing precedence (§2.10), resume manifest (T1), streaming mode (T2)."""

import pytest

from remark_lint_frontmatter_schema_spark import bundle, compile_ruleset
from remark_lint_frontmatter_schema_spark.manifest import (
    Manifest, list_partitions, run_with_resume, snapshot_id_for)
from remark_lint_frontmatter_schema_spark.plans.routing import route_and_validate
from remark_lint_frontmatter_schema_spark.sources import fixtures
from remark_lint_frontmatter_schema_spark.streaming.incremental import validate_stream

N = 400

REGISTRY = {
    "clip": "rulesets/clip.schema.yaml",
    "strict": "rulesets/strict.schema.yaml",
    "broken": "rulesets/broken.schema.yaml",
}


@pytest.fixture(scope="module")
def clips(spark):
    df = fixtures.generate_clips(spark, N, audio_ms=8, num_partitions=4)
    df.cache().count()
    return df


def test_column_routing(clips):
    rep = route_and_validate(clips, row_id="clip_id", registry=REGISTRY,
                             ruleset_col="ruleset_id",
                             partition_col="part_date")
    assert [p.ruleset_name for p in rep.passes] == ["clip"]
    assert rep.passes[0].source == "column"
    # no-frontmatter rows (ruleset_id null) -> not validated by any pass
    v_ids = {r.row_id for r in rep.violations.collect()}
    null_ids = {r.clip_id for r in
                clips.where("ruleset_id is null").collect()}
    assert not (v_ids & null_ids)


def test_embed_beats_everything(clips):
    rep = route_and_validate(
        clips, row_id="clip_id",
        embed={"properties": {"codec": {"const": "pcm_s16le"}}},
        registry=REGISTRY, ruleset_col="ruleset_id",
        partition_col="part_date",
        patterns={"strict": ["*"]})
    assert len(rep.passes) == 1
    assert rep.passes[0].source == "embed"
    # embed applies to ALL rows incl. ruleset_id-null ones
    n_const = rep.violations.where("keyword = 'const'").count()
    assert n_const > N // 2  # flac+opus rows


def test_pattern_routing_excludes_locally_routed_rows(spark):
    # rows WITHOUT ruleset_id fall back to pattern routing (index.ts:250)
    df = fixtures.generate_clips(spark, N, audio_ms=8, num_partitions=2)
    rep = route_and_validate(
        df, row_id="clip_id", registry=REGISTRY, ruleset_col="ruleset_id",
        partition_col="part_date",
        patterns={"strict": ["2026-01-0*"]})
    sources = {p.ruleset_name: p.source for p in rep.passes}
    assert sources == {"clip": "column", "strict@pattern": "pattern"}
    strict_pass = [p for p in rep.passes if p.source == "pattern"][0]
    # pattern pass only saw the ruleset_id-null rows
    n_rows = strict_pass.result.verdicts.agg({"n_rows": "sum"}).collect()[0][0]
    assert n_rows == df.where("ruleset_id is null").count()


def test_unknown_and_broken_rulesets_guarded(spark, clips):
    from pyspark.sql import functions as F
    df = clips.withColumn(
        "ruleset_id",
        F.when(F.col("ruleset_id").isNotNull(), "ghost_ruleset"))
    rep = route_and_validate(df, row_id="clip_id", registry=REGISTRY,
                             ruleset_col="ruleset_id")
    assert not rep.passes
    assert rep.errors and rep.errors[0][1] == "load"
    # broken ruleset -> compile-stage artifact (G3), not an exception
    df2 = clips.withColumn(
        "ruleset_id", F.when(F.col("ruleset_id").isNotNull(), "broken"))
    rep2 = route_and_validate(df2, row_id="clip_id", registry=REGISTRY,
                              ruleset_col="ruleset_id")
    assert not rep2.passes
    assert any(stage == "load" or stage == "compile"
               for _n, stage, _m in rep2.errors)


def test_resume_skips_validated_partitions(spark, clips, tmp_path):
    table = str(tmp_path / "clips_table")
    fixtures.write_clips(clips, table)
    parts = list_partitions(table, "part_date")
    assert len(parts) == 8

    compiled = compile_ruleset(bundle("rulesets/clip.schema.yaml"),
                               clips.schema, name="clip",
                               exclude_columns=("ruleset_id",))
    mpath = str(tmp_path / "manifest.json")
    snap = snapshot_id_for(table)

    r1 = run_with_resume(spark, table, partition_col="part_date",
                         compiled=compiled, row_id="clip_id",
                         manifest_path=mpath, snapshot_id=snap)
    assert sorted(r1["validated"]) == parts
    # rerun: everything already validated
    r2 = run_with_resume(spark, table, partition_col="part_date",
                         compiled=compiled, row_id="clip_id",
                         manifest_path=mpath, snapshot_id=snap)
    assert r2["validated"] == [] and sorted(r2["skipped"]) == parts
    # drop half the manifest -> only that half recomputed
    m = Manifest.load(mpath)
    for p in parts[:4]:
        m.entries.pop(f"{snap}|{p}|{compiled.ruleset_hash}")
    m.save()
    r3 = run_with_resume(spark, table, partition_col="part_date",
                         compiled=compiled, row_id="clip_id",
                         manifest_path=mpath, snapshot_id=snap)
    assert sorted(r3["validated"]) == parts[:4]
    # new snapshot id -> full revalidation required
    r4 = run_with_resume(spark, table, partition_col="part_date",
                         compiled=compiled, row_id="clip_id",
                         manifest_path=mpath, snapshot_id="snap_new")
    assert sorted(r4["validated"]) == parts


def test_per_partition_fingerprint_revalidates_only_changed(
        spark, clips, tmp_path):
    """Snapshot-diff resume: mutating ONE partition re-validates exactly
    that partition, where the table-level snapshot id (which changes on
    any write) would re-validate all of them."""
    import glob
    import os

    table = str(tmp_path / "clips_fp_table")
    fixtures.write_clips(clips, table)
    parts = list_partitions(table, "part_date")

    compiled = compile_ruleset(bundle("rulesets/clip.schema.yaml"),
                               clips.schema, name="clip",
                               exclude_columns=("ruleset_id",))
    mpath = str(tmp_path / "manifest_fp.json")

    kw = dict(partition_col="part_date", compiled=compiled,
              row_id="clip_id", manifest_path=mpath,
              per_partition_snapshots=True)
    r1 = run_with_resume(spark, table, **kw)
    assert sorted(r1["validated"]) == parts
    r2 = run_with_resume(spark, table, **kw)
    assert r2["validated"] == [] and sorted(r2["skipped"]) == parts

    # rewrite one partition (append a file => its fingerprint changes)
    target = parts[3]
    pdir = os.path.join(table, f"part_date={target}")
    src = glob.glob(os.path.join(pdir, "*.parquet"))[0]
    with open(src, "rb") as fh:
        payload = fh.read()
    with open(os.path.join(pdir, "part-compacted.parquet"), "wb") as fh:
        fh.write(payload)

    r3 = run_with_resume(spark, table, **kw)
    assert r3["validated"] == [target]
    assert sorted(r3["skipped"]) == [p for p in parts if p != target]
    # and it is idempotent again afterwards
    r4 = run_with_resume(spark, table, **kw)
    assert r4["validated"] == []
    # the table-level id, by contrast, went stale for EVERY partition
    assert snapshot_id_for(table) != "snap_0"


def test_streaming_incremental(spark, clips, tmp_path):
    inp = str(tmp_path / "in")
    clips.write.parquet(inp)
    compiled = compile_ruleset(bundle("rulesets/clip.schema.yaml"),
                               clips.schema, name="clip",
                               exclude_columns=("ruleset_id",))
    q = validate_stream(
        spark, inp, clips.schema, compiled, row_id="clip_id",
        partition_col="part_date",
        violations_sink=str(tmp_path / "viol"),
        verdicts_sink=str(tmp_path / "verd"),
        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    viol = spark.read.parquet(str(tmp_path / "viol"))
    assert viol.count() > 0
    assert set(viol.columns) >= {"row_id", "constraint_id", "keyword",
                                 "message"}
    # batch runs of the same plan produce the same violation keys as batch
    batch_keys = {(r.row_id, r.constraint_id) for r in viol.collect()}
    from remark_lint_frontmatter_schema_spark import validate as batch_validate
    bres = batch_validate(clips, compiled, row_id="clip_id",
                          partition_col="part_date")
    expect = {(r.row_id, r.constraint_id) for r in bres.violations.collect()}
    assert batch_keys == expect


def test_streaming_fused_table_checks_match_batch(spark, tmp_path):
    """Round 5 (VERDICT #6): a ruleset declaring 3 fused aggregation
    kinds (x-unique + global x-quantile + x-drift) must run the SAME
    fused single-scan pass inside foreachBatch and emit violations
    byte-identical to the batch engine on the same slice — and free its
    per-batch cache blocks afterwards."""
    from datetime import datetime

    from remark_lint_frontmatter_schema_spark.operators.dedup import (
        _PERSISTED)
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        validate_with_table_checks)

    rows = ([(f"r{i}", "ref", float(i % 10), f"k{i}",
              datetime(2024, 3, 1 + i % 5)) for i in range(150)]
            + [(f"s{i}", "cur", float(i % 10) + 4.0, f"k{500 + i}",
                datetime(2024, 3, 1 + i % 5)) for i in range(150)]
            + [("dupA", "ref", 3.0, "k7", datetime(2024, 3, 2))] * 2)
    df = spark.createDataFrame(
        rows, "rid string, side string, v double, k string, ts timestamp")
    inp = str(tmp_path / "in")
    # <= 16 files -> one micro-batch, so batch-scope table checks see
    # exactly the same slice as the batch engine
    df.repartition(4).write.parquet(inp)
    src = spark.read.parquet(inp)
    rs = {"properties": {
        "k": {"x-unique": True},
        "v": {"x-quantile": {"q": 0.5, "lo": 100.0},
              "x-drift": {"partition_col": "side", "side_a": "ref",
                          "side_b": "cur", "lo": 0.0, "hi": 10.0,
                          "ks_threshold": 0.05}}}}
    compiled = compile_ruleset(rs, src.schema, name="fusedstream")
    assert len(compiled.table_checks) == 3
    n_cached_before = len(_PERSISTED)
    q = validate_stream(
        spark, inp, src.schema, compiled, row_id="rid",
        partition_col=None,
        violations_sink=str(tmp_path / "viol"),
        verdicts_sink=str(tmp_path / "verd"),
        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert len(_PERSISTED) == n_cached_before  # per-batch caches freed
    viol = spark.read.parquet(str(tmp_path / "viol"))
    got = sorted((r.row_id, r.constraint_id, r.keyword, r.message,
                  r.actual) for r in viol.collect())
    bres = validate_with_table_checks(src, compiled, row_id="rid")
    try:
        want = sorted((r.row_id, r.constraint_id, r.keyword, r.message,
                       r.actual) for r in bres.violations.collect())
    finally:
        from remark_lint_frontmatter_schema_spark.operators.dedup import (
            release_all)
        release_all()
    assert got == want
    kinds = {k for _, _, k, _, _ in got}
    assert {"unique", "x-quantile", "drift"} <= kinds


# ---------------------------------------------------------------------------
# round 2: remote $ref fetcher + path-valued $schema routing
# ---------------------------------------------------------------------------

def test_remote_ref_bundles_via_fetcher(tmp_path):
    """http(s) $refs resolve through an injectable fetch(url) -> str, with
    the URL kept as $bundled_from provenance (reference: remote refs via
    json-schema-ref-parser, index.ts:278-282 / demo/pipeline.ts:15)."""
    from remark_lint_frontmatter_schema_spark.plans.bundler import (
        RulesetLoadError, bundle, bundle_dict)
    remote_docs = {
        "https://example.org/schemas/base.yaml": (
            "type: object\n"
            "properties:\n"
            "  codec:\n"
            "    $ref: ./codec.yaml\n"),
        "https://example.org/schemas/codec.yaml": (
            "enum: [pcm16, opus]\n"),
    }
    fetched = []

    def fake_fetch(url):
        fetched.append(url)
        return remote_docs[url]

    doc = bundle_dict(
        {"allOf": [{"$ref": "https://example.org/schemas/base.yaml"}]},
        fetch=fake_fetch)
    branch = doc["allOf"][0]
    assert branch["$bundled_from"] == "https://example.org/schemas/base.yaml"
    # relative ref inside the remote doc resolved against the URL
    codec = branch["properties"]["codec"]
    assert codec["enum"] == ["pcm16", "opus"]
    assert codec["$bundled_from"] == "https://example.org/schemas/codec.yaml"
    assert fetched == ["https://example.org/schemas/base.yaml",
                       "https://example.org/schemas/codec.yaml"]

    # a local file can also point at a remote ref
    p = tmp_path / "root.yaml"
    p.write_text("properties:\n  c:\n    $ref: "
                 "'https://example.org/schemas/codec.yaml'\n")
    doc2 = bundle(p, fetch=fake_fetch)
    assert doc2["properties"]["c"]["enum"] == ["pcm16", "opus"]

    # no fetcher -> load error (routing turns this into an artifact)
    with pytest.raises(RulesetLoadError, match="needs a fetcher"):
        bundle(p)


def test_remote_ref_error_becomes_routing_artifact(clips):
    """A column-routed ruleset whose bundle hits an unfetchable remote ref
    degrades to a load-error artifact, never a crash (G2/G3)."""
    reg = dict(REGISTRY)
    reg["clip"] = {"allOf": [{"$ref": "https://nowhere.invalid/x.yaml"}]}
    rep = route_and_validate(clips, row_id="clip_id", registry=reg,
                             ruleset_col="ruleset_id")
    assert any(name == "clip" and stage == "load" and "fetcher" in msg
               for name, stage, msg in rep.errors)


def test_path_valued_schema_routing(spark, tmp_path):
    """ruleset_col values that are FILE PATHS resolve relative to the
    config dir first, workspace root as fallback (existence probe) —
    the reference's two-step $schema resolution (index.ts:227-238,
    CHANGELOG v3.13.0)."""
    cfg = tmp_path / "cfg"
    root = tmp_path / "root"
    (cfg / "schemas").mkdir(parents=True)
    (root / "schemas").mkdir(parents=True)
    # same relative path exists in BOTH dirs: config dir must win
    (cfg / "schemas" / "a.yaml").write_text(
        "properties:\n  v:\n    maximum: 10\n")
    (root / "schemas" / "a.yaml").write_text(
        "properties:\n  v:\n    maximum: 99999\n")
    # this one exists only under the workspace root: fallback must find it
    (root / "schemas" / "b.yaml").write_text(
        "properties:\n  v:\n    minimum: 100\n")
    df = spark.createDataFrame(
        [("r1", 50, "schemas/a.yaml"), ("r2", 50, "schemas/b.yaml"),
         ("r3", 50, "schemas/missing.yaml")],
        ["rid", "v", "ruleset_id"])
    rep = route_and_validate(df, row_id="rid", ruleset_col="ruleset_id",
                             schema_dirs=(str(cfg), str(root)))
    viol = {(r.row_id, r.keyword) for r in rep.violations.collect()}
    # config-dir a.yaml (maximum 10) fired; root a.yaml (maximum 99999)
    # would not have
    assert viol == {("r1", "maximum"), ("r2", "minimum")}
    # provenance carries the path-valued ruleset id
    paths = {p.ruleset_name for p in rep.passes}
    assert paths == {"schemas/a.yaml", "schemas/b.yaml"}
    assert any("schemas/a.yaml" in c.schema_path
               for p in rep.passes for c in p.compiled.checks)
    # unresolvable path -> load artifact
    assert any(name == "schemas/missing.yaml" and stage == "load"
               for name, stage, _ in rep.errors)


def test_path_routing_rejects_escape_and_absolute(spark, tmp_path):
    """Path-valued ruleset values are DATA: absolute paths and ../
    escapes must not resolve to driver files outside schema_dirs."""
    import os
    inside = tmp_path / "schemas"
    inside.mkdir()
    (inside / "ok.yaml").write_text("properties:\n  v:\n    maximum: 1\n")
    outside = tmp_path / "outside.yaml"
    outside.write_text("properties:\n  v:\n    maximum: 99\n")
    df = spark.createDataFrame(
        [("r1", 5, "ok.yaml"),
         ("r2", 5, str(outside)),            # absolute path
         ("r3", 5, "../outside.yaml")],      # traversal escape
        ["rid", "v", "ruleset_id"])
    rep = route_and_validate(df, row_id="rid", ruleset_col="ruleset_id",
                             schema_dirs=(str(inside),))
    assert {p.ruleset_name for p in rep.passes} == {"ok.yaml"}
    bad = {name for name, stage, _m in rep.errors if stage == "load"}
    assert bad == {str(outside), "../outside.yaml"}
    assert os.path.exists(outside)  # (file was there; refusal was policy)


def test_overlapping_patterns_validate_shared_partition_under_both(spark):
    """Two glob patterns matching the SAME partition: its rows are
    validated under both rulesets, each violation carries its own route's
    ruleset_id, and both verdict groups are emitted."""
    df = spark.createDataFrame(
        [("r1", 50, "p1"), ("r2", 5, "p1"), ("r3", 50, "p2")],
        ["rid", "v", "part"])
    reg = {"a": {"properties": {"v": {"maximum": 10}}},
           "b": {"properties": {"v": {"minimum": 100}}}}
    rep = route_and_validate(df, row_id="rid", registry=reg,
                             patterns={"a": ["p*"], "b": ["p1"]},
                             partition_col="part")
    assert not rep.errors
    viol = {(r.row_id, r.ruleset_id, r.keyword)
            for r in rep.violations.collect()}
    assert viol == {("r1", "a@pattern", "maximum"),
                    ("r3", "a@pattern", "maximum"),
                    ("r1", "b@pattern", "minimum"),
                    ("r2", "b@pattern", "minimum")}
    verdicts = {(r.partition_id, r.ruleset_id, r.n_rows, r.n_violations,
                 r.n_failed_rows, r.passed)
                for r in rep.verdicts.collect()}
    assert verdicts == {("p1", "a@pattern", 2, 1, 1, False),
                        ("p1", "b@pattern", 2, 2, 2, False),
                        ("p2", "a@pattern", 1, 1, 1, False)}


def test_routed_table_checks_run_and_scope(spark):
    """x-unique / x-dedup declared by a routed ruleset must execute (not
    silently drop) and must be scoped to the route's applicable rows."""
    df = spark.createDataFrame(
        [("a", "rs", "same text body here"),
         ("b", "rs", "same text body here"),
         ("c", "rs", "unique body"),
         ("x", None, "same text body here"),   # unrouted: outside scope
         ("y", "rs", "same text body here")],
        "doc_id string, ruleset_id string, text string")
    reg = {"rs": {"type": "object", "properties": {
        "doc_id": {"type": "string", "x-unique": True},
        "text": {"type": "string", "x-dedup": {"id": "doc_id"}}}}}
    rep = route_and_validate(df, row_id="doc_id", registry=reg,
                             ruleset_col="ruleset_id")
    assert rep.passes[0].table_violations is not None
    rows = rep.violations.collect()
    dedup_rows = {r.row_id for r in rows if r.keyword == "dedup"}
    # x (unrouted) is out of scope: neither a violator nor the canonical
    assert dedup_rows == {"b", "y"}
    assert not any(r.keyword == "unique" for r in rows)  # ids are unique


def test_routed_missing_ref_dim_is_artifact_not_crash(spark):
    df = spark.createDataFrame([("a", "rs", "k1")],
                               "doc_id string, ruleset_id string, fk string")
    reg = {"rs": {"type": "object", "properties": {
        "fk": {"type": "string",
               "x-ref": {"dim": "dim_table", "key": "k"}}}}}
    rep = route_and_validate(df, row_id="doc_id", registry=reg,
                             ruleset_col="ruleset_id")
    assert any(stage == "table-check" and "dim_table" in msg
               for _n, stage, msg in rep.errors)
    rep.violations.count()  # plan still materializes


def test_streaming_ingest_builds_canonical_corpus(spark, clips, tmp_path):
    from pyspark.sql import functions as F
    from remark_lint_frontmatter_schema_spark.functions import audio
    from remark_lint_frontmatter_schema_spark.operators.validate import (
        n_blocking_expr)
    from remark_lint_frontmatter_schema_spark.streaming.incremental import (
        ingest_stream)

    inp = str(tmp_path / "in")
    clips.write.parquet(inp)
    compiled = compile_ruleset(bundle("rulesets/clip.schema.yaml"),
                               clips.schema, name="clip",
                               exclude_columns=("ruleset_id",))
    out = str(tmp_path / "out")
    q = ingest_stream(spark, inp, clips.schema, compiled, out_path=out,
                      checkpoint=str(tmp_path / "ckpt"),
                      fail_severities=("error", "warning"),
                      max_files_per_trigger=2)
    q.awaitTermination(120)

    # split holds every input row; quarantine self-describes
    split = spark.read.parquet(f"{out}/split")
    assert split.count() == clips.count()
    quar = split.where(~F.col("accepted").cast("boolean"))
    assert quar.where(F.size("_violations") == 0).count() == 0
    # accepted set matches the batch gate exactly
    n_acc_batch = clips.where(
        n_blocking_expr(compiled, ("error", "warning")) == 0).count()
    assert split.where(F.col("accepted").cast("boolean")).count() == n_acc_batch
    # corpus: canonical, labeled, spread over the stream's micro-batches
    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() > 0
    assert corpus.select(F.min(audio.canonical_wav_expr())).collect()[0][0]
    assert corpus.where(F.col("transcript").isNull()).count() == 0
    assert corpus.select("run_id").distinct().count() > 1  # >1 micro-batch


def test_streaming_repair(spark, tmp_path):
    """repair_stream: batch repair semantics per micro-batch, repaired
    rows + log appended under run_id=batch_N, stream equals batch."""
    from remark_lint_frontmatter_schema_spark import repair as batch_repair
    from remark_lint_frontmatter_schema_spark.streaming.incremental import (
        repair_stream)

    df = spark.createDataFrame(
        [("a", "O", 10.0), ("b", "X", -5.0), ("c", "O", 250.0)],
        "id string, status string, price double")
    inp = str(tmp_path / "rin")
    df.write.parquet(inp)
    ruleset = {"properties": {
        "status": {"enum": ["O", "F"], "default": "F"},
        "price": {"minimum": 0, "maximum": 100}}}
    q = repair_stream(spark, inp, df.schema, ruleset, row_id="id",
                      repaired_sink=str(tmp_path / "fixed"),
                      log_sink=str(tmp_path / "rlog"),
                      checkpoint=str(tmp_path / "rckpt"))
    q.awaitTermination(120)
    fixed = spark.read.parquet(str(tmp_path / "fixed"))
    log = spark.read.parquet(str(tmp_path / "rlog"))
    got = {r.id: (r.status, r.price) for r in fixed.collect()}
    bres = batch_repair(df, ruleset, row_id="id")
    expect = {r.id: (r.status, r.price) for r in bres.repaired.collect()}
    assert got == expect
    assert set(log.columns) >= {"row_id", "ruleset_id", "action",
                                "before", "after", "run_id"}
    stream_actions = {(r.row_id, r.action) for r in log.collect()}
    batch_actions = {(r.row_id, r.action) for r in bres.log.collect()}
    assert stream_actions == batch_actions


def test_resume_with_footer_proofs_skips_clean_partitions(spark, tmp_path):
    """The composed lakehouse path: fingerprints pick pending partitions,
    parquet footer stats prove most of them clean with zero data read,
    and only the residue is scanned."""
    import pytest as _pytest

    table = str(tmp_path / "ftab")
    rows = [(i, 100 + i % 50, ["a", "b", "c"][i % 3]) for i in range(300)]
    rows.append((9999, -5, "c"))  # one out-of-bounds row in partition c
    df = spark.createDataFrame(rows, "id long, v long, pt string")
    df.write.partitionBy("pt").parquet(table)

    doc = {"type": "object", "required": ["id"],
           "properties": {"v": {"minimum": -1, "maximum": 1000}}}
    compiled = compile_ruleset(doc, df.schema, name="bounds")
    kw = dict(partition_col="pt", compiled=compiled, row_id="id",
              manifest_path=str(tmp_path / "fman.json"),
              per_partition_snapshots=True, ruleset_doc=doc)

    r1 = run_with_resume(spark, table, **kw)
    # a and b proven by footers alone; c holds the violation -> scanned
    assert sorted(r1["proven"]) == ["a", "b"]
    assert sorted(r1["validated"]) == ["a", "b", "c"]
    assert [v.partition_id for v in r1["verdict_rows"]] == ["c"]
    assert not r1["verdict_rows"][0].passed

    # footer-derived metrics landed in the manifest for proven partitions
    m = Manifest.load(kw["manifest_path"])
    proven_entries = [e for e in m.entries.values()
                      if e["metrics"].get("proven_by") == "footer-stats"]
    assert {e["partition_id"] for e in proven_entries} == {"a", "b"}
    assert all(e["metrics"]["n_rows"] == 100 for e in proven_entries)

    # idempotent rerun: nothing pending at all
    r2 = run_with_resume(spark, table, **kw)
    assert r2["validated"] == [] and sorted(r2["skipped"]) == ["a", "b", "c"]

    # a mismatched doc must refuse rather than assert the wrong ruleset
    with _pytest.raises(ValueError, match="ruleset_doc"):
        run_with_resume(spark, table, **{
            **kw, "manifest_path": str(tmp_path / "other.json"),
            "ruleset_doc": {"properties": {"v": {"minimum": 0}}}})


def test_anchor_refs_resolve(spark):
    """Plain-name $ref fragments: 2019-09 `$anchor` and the draft-07
    location-independent `$id: "#name"` form both resolve at compile time
    (Ajv2019/Ajv support both; pointer form unchanged)."""
    from remark_lint_frontmatter_schema_spark.plans.bundler import (
        resolve_internal_ref)
    df = spark.createDataFrame([(1, 5), (2, 500)], "id long, v long")
    rs = {
        "type": "object",
        "properties": {"v": {"$ref": "#smallNum"}},
        "$defs": {
            "n": {"$anchor": "smallNum", "type": "number", "maximum": 100},
            "legacy": {"$id": "#legacyNode", "minimum": 3},
        },
    }
    compiled = compile_ruleset(rs, df.schema, name="anchored")
    from remark_lint_frontmatter_schema_spark import validate
    res = validate(df, compiled, row_id="id")
    rows = res.violations.collect()
    assert [r.row_id for r in rows] == ["2"]
    assert rows[0].keyword == "maximum"
    # draft-07 $id anchor form
    assert resolve_internal_ref(rs, "#legacyNode")["minimum"] == 3


def test_anchor_missing_and_duplicate_fail_compile(spark):
    from remark_lint_frontmatter_schema_spark.plans.compiler import (
        RulesetCompileError)
    df = spark.createDataFrame([(1, 5)], "id long, v long")
    with pytest.raises(RulesetCompileError, match="unresolved"):
        compile_ruleset(
            {"type": "object", "properties": {"v": {"$ref": "#ghost"}}},
            df.schema, name="x")
    dup = {
        "type": "object",
        "properties": {"v": {"$ref": "#twice"}},
        "$defs": {"a": {"$anchor": "twice", "type": "number"},
                  "b": {"$anchor": "twice", "type": "string"}},
    }
    with pytest.raises(RulesetCompileError, match="unique"):
        compile_ruleset(dup, df.schema, name="x")


def test_anchor_resource_scoping_and_slashed_fragments(spark, tmp_path):
    """Anchors are per schema resource: a bundled subtree's $anchor never
    collides with the root's; slash-bearing fragments keep the lenient
    pointer behavior."""
    from remark_lint_frontmatter_schema_spark.plans.bundler import (
        bundle, resolve_internal_ref)
    (tmp_path / "ext.yaml").write_text(
        "$defs:\n  n:\n    $anchor: item\n    maximum: 5\n")
    root = tmp_path / "root.yaml"
    root.write_text(
        "properties:\n"
        "  a:\n    $ref: 'ext.yaml'\n"      # bundles a foreign 'item'
        "  v:\n    $ref: '#item'\n"
        "$defs:\n  mine:\n    $anchor: item\n    minimum: 7\n")
    doc = bundle(root)
    # root '#item' resolves to the ROOT resource's anchor, not the
    # bundled file's (which would be a duplicate error / wrong subtree)
    node = resolve_internal_ref(doc, "#item")
    assert node.get("minimum") == 7
    # slash-bearing fragment stays a pointer (lenient no-leading-slash)
    assert resolve_internal_ref(
        {"definitions": {"foo": {"type": "string"}}},
        "#definitions/foo") == {"type": "string"}


def test_bundled_resource_self_anchor_ref(spark, tmp_path):
    """An external file that references its OWN $anchor keeps working
    after bundling (inlined within its resource), and never captures a
    same-named anchor in the root."""
    from remark_lint_frontmatter_schema_spark.plans.bundler import (
        bundle, resolve_internal_ref)
    (tmp_path / "ext.yaml").write_text(
        "$defs:\n  n:\n    $anchor: item\n    maximum: 5\n"
        "properties:\n  v:\n    $ref: '#item'\n")
    root = tmp_path / "root.yaml"
    root.write_text(
        "properties:\n  a:\n    $ref: 'ext.yaml'\n"
        "$defs:\n  mine:\n    $anchor: item\n    minimum: 7\n")
    doc = bundle(root)
    # the bundled subtree's self-reference resolved within ITS resource
    inner = doc["properties"]["a"]["properties"]["v"]
    assert inner["maximum"] == 5 and "minimum" not in inner
    # the root's own anchor is still the root resolution
    assert resolve_internal_ref(doc, "#item")["minimum"] == 7
    # anchor cycle -> bounded compile error, not a hang
    (tmp_path / "cyc.yaml").write_text(
        "$anchor: a\n$ref: '#a'\n")
    r2 = tmp_path / "root2.yaml"
    r2.write_text("properties:\n  x:\n    $ref: 'cyc.yaml'\n")
    import pytest as _pytest
    from remark_lint_frontmatter_schema_spark.plans.compiler import (
        RulesetCompileError)
    with _pytest.raises(RulesetCompileError, match="too deep"):
        bundle(r2)


def test_anchor_fragment_in_external_ref(tmp_path):
    """file.yaml#anchorName picks the anchored subtree of the external
    file (pointer fragments keep working)."""
    from remark_lint_frontmatter_schema_spark.plans.bundler import bundle
    (tmp_path / "shared.yaml").write_text(
        "$defs:\n"
        "  codec:\n"
        "    $anchor: codecEnum\n"
        "    enum: [pcm16, opus]\n")
    root = tmp_path / "root.yaml"
    root.write_text("properties:\n  codec:\n"
                    "    $ref: 'shared.yaml#codecEnum'\n")
    doc = bundle(root)
    node = doc["properties"]["codec"]
    assert node["enum"] == ["pcm16", "opus"]
    assert node["$bundled_from"] == "shared.yaml"
