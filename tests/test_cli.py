"""CLI smoke tests (mirrors reference ``tests/test_cli.py:42-92``)."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from dax_ppdb_spark import cli
from dax_ppdb_spark.ledger import Ledger
from dax_ppdb_spark.pipeline.promote import Promoter
from dax_ppdb_spark.pipeline.store import store_chunk

UTC = datetime.timezone.utc


def test_parser_requires_subcommand():
    with pytest.raises(SystemExit):
        cli.build_parser().parse_args([])


def test_list_chunks(spark, tmp_path, capsys):
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    ledger.insert_chunks([{"apdb_replica_chunk": 5}, {"apdb_replica_chunk": 3}])
    assert cli.main(["list-chunks", str(tmp_path / "ledger")]) == 0
    out = capsys.readouterr().out
    lines = [line for line in out.splitlines() if line and line[0].isdigit()]
    assert [line.split("\t")[0] for line in lines] == ["3", "5"]
    assert "total: 2" in out


def test_run_then_promote(spark, tmp_path, capsys):
    root = str(tmp_path / "ppdb")
    source = str(tmp_path / "apdb")
    # Export one chunk into the APDB landing area (old enough to pass
    # the max-wait watermark).
    df = spark.createDataFrame(
        [(1, 100.0, None, 45.0, -30.0, 1)],
        "diaObjectId LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE, "
        "ra DOUBLE, dec DOUBLE, nDiaSources INT",
    )
    chunk_dir = store_chunk(spark, source, 1, {"DiaObject": df})
    # age the manifest so the watermark passes
    mpath = os.path.join(chunk_dir, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["created_at"] -= 3600
    with open(mpath, "w") as f:
        json.dump(m, f)

    assert cli.main(["run", "--source", source, "--root", root]) == 0
    assert "replicated: [1]" in capsys.readouterr().out
    assert cli.main(["promote", "--root", root]) == 0
    assert "promoted: [1]" in capsys.readouterr().out
    pub = Promoter(spark, root).public_diaobject.read(spark)
    assert pub.count() == 1


def test_upload_chunks_cmd(spark, tmp_path, capsys):
    export = str(tmp_path / "export")
    ledger_path = str(tmp_path / "ledger")
    ledger = Ledger(spark, ledger_path)
    df = spark.createDataFrame([(1,)], "diaObjectId LONG")
    store_chunk(spark, export, 7, {"DiaObject": df}, ledger=ledger)
    assert (
        cli.main(
            [
                "upload-chunks",
                "--ledger", ledger_path,
                "--export-root", export,
                "--bucket", str(tmp_path / "bucket"),
            ]
        )
        == 0
    )
    assert "uploaded: [7]" in capsys.readouterr().out
    assert os.path.exists(str(tmp_path / "bucket" / "chunk_7" / "manifest.json"))


def test_config_file_drives_run_and_lists(spark, tmp_path, capsys):
    """Config-driven startup (ppdb_config.py:40-65, _factory.py:64-92):
    one YAML names the whole pipeline; flags stay optional."""
    import yaml

    root = str(tmp_path / "ppdb")
    source = str(tmp_path / "apdb")
    df = spark.createDataFrame(
        [(1, 100.0, None, 45.0, -30.0, 1)],
        "diaObjectId LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE, "
        "ra DOUBLE, dec DOUBLE, nDiaSources INT",
    )
    chunk_dir = store_chunk(spark, source, 4, {"DiaObject": df})
    mpath = os.path.join(chunk_dir, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["created_at"] -= 3600
    with open(mpath, "w") as f:
        json.dump(m, f)

    cfg_path = str(tmp_path / "ppdb.yaml")
    with open(cfg_path, "w") as f:
        yaml.safe_dump(
            {"implementation_type": "spark", "root": root, "source": source}, f
        )

    # APDB-side listing straight from the config (no ledger yet)
    assert cli.main(["list-chunks-apdb", "--config", cfg_path]) == 0
    out = capsys.readouterr().out
    assert out.splitlines()[1].startswith("4\t") and "total: 1" in out

    assert cli.main(["run", "--config", cfg_path]) == 0
    assert "replicated: [4]" in capsys.readouterr().out
    assert cli.main(["promote", "--config", cfg_path]) == 0
    assert "promoted: [4]" in capsys.readouterr().out

    # PPDB-side listing: flag overrides config (config has no ledger key)
    ledger_path = os.path.join(root, "ledger")
    assert cli.main(["list-chunks", ledger_path, "--config", cfg_path]) == 0
    assert "total: 1" in capsys.readouterr().out


def test_config_dispatch_errors(tmp_path):
    from dax_ppdb_spark.config import PpdbConfig

    p = tmp_path / "bad.yaml"
    p.write_text("root: /x\n")
    with pytest.raises(LookupError, match="implementation_type"):
        PpdbConfig.from_uri(str(p))
    p.write_text("implementation_type: bigquery\nroot: /x\n")
    with pytest.raises(TypeError, match="Unknown type name"):
        PpdbConfig.from_uri(str(p))
    p.write_text("implementation_type: spark\nno_such_key: 1\n")
    with pytest.raises(TypeError, match="no_such_key"):
        PpdbConfig.from_uri(str(p))
    p.write_text("- just\n- a list\n")
    with pytest.raises(TypeError, match="valid object"):
        PpdbConfig.from_uri(str(p))


def test_run_update_flag_rereplicates(spark, tmp_path, capsys):
    root = str(tmp_path / "ppdb")
    source = str(tmp_path / "apdb")
    df = spark.createDataFrame(
        [(1, 100.0, None, 45.0, -30.0, 1)],
        "diaObjectId LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE, "
        "ra DOUBLE, dec DOUBLE, nDiaSources INT",
    )
    chunk_dir = store_chunk(spark, source, 1, {"DiaObject": df})

    def age_manifest(uid):
        mpath = os.path.join(chunk_dir, "manifest.json")
        with open(mpath) as f:
            m = json.load(f)
        m["created_at"] -= 3600
        m["unique_id"] = uid
        with open(mpath, "w") as f:
            json.dump(m, f)

    age_manifest("uuid-one")
    assert cli.main(["run", "--source", source, "--root", root]) == 0
    capsys.readouterr()
    # source regenerates the chunk with a new uuid: strict mode raises,
    # --update re-replicates
    age_manifest("uuid-two")
    with pytest.raises(ValueError, match="unique_id mismatch"):
        cli.main(["run", "--source", source, "--root", root])
    assert cli.main(["run", "--source", source, "--root", root, "--update"]) == 0
    assert "replicated: [1]" in capsys.readouterr().out


def test_export_pgcopy_command(spark, tmp_path):
    """S8 surfaced via CLI: dump a parquet table to PGCOPY part files
    with a column subset, decode one back."""
    from dax_ppdb_spark.cli import main
    from dax_ppdb_spark.io.pg_copy import read_pg_copy

    src = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.5)], "id LONG, s STRING, v DOUBLE"
    ).write.parquet(src)
    out = str(tmp_path / "pgout")
    assert main(["export-pgcopy", src, out, "--columns", "id,s"]) == 0
    import os

    files = [f for f in os.listdir(out) if f.endswith(".pgcopy")]
    assert files
    rows = []
    schema = spark.createDataFrame([(1, "x")], "id LONG, s STRING").schema
    for f in files:
        rows += read_pg_copy(os.path.join(out, f), schema)
    assert sorted(rows) == [(1, "x"), (2, "y")]


def test_export_pgcopy_resolves_managed_table(spark, tmp_path):
    """A ParquetTable warehouse directory (data behind the _CURRENT
    pointer in a _v<hex> subdir, invisible to a raw parquet read) must
    export its committed version."""
    import os

    from dax_ppdb_spark.cli import main
    from dax_ppdb_spark.io.pg_copy import read_pg_copy
    from dax_ppdb_spark.io.table import ParquetTable

    t = ParquetTable(str(tmp_path / "managed"))
    df = spark.createDataFrame([(7, "m")], "id LONG, s STRING")
    t.overwrite(df)
    out = str(tmp_path / "pgout2")
    assert main(["export-pgcopy", t.path, out]) == 0
    (f,) = [x for x in os.listdir(out) if x.endswith(".pgcopy")]
    assert read_pg_copy(os.path.join(out, f), df.schema) == [(7, "m")]


def test_compact_command(spark, tmp_path):
    import os

    from dax_ppdb_spark.cli import main
    from dax_ppdb_spark.io.table import ParquetTable

    t = ParquetTable(str(tmp_path / "frag"))
    t.overwrite(
        spark.createDataFrame([(1, "a")], "k INT, v STRING").repartition(1),
        partition_by=("k",),
    )
    for i in range(5):
        t.append_commit(
            spark.createDataFrame([(1, f"x{i}")], "k INT, v STRING").repartition(1),
            partition_by=("k",),
        )
    assert main(["compact", t.path, "--partition-col", "k"]) == 0
    files = [
        f for f in os.listdir(os.path.join(t.data_dir(), "k=1"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1


def test_curate_command_writes_split_partitions(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "curated")
    good = "the quick brown fox jumps over the lazy dog and runs on in the field " * 4
    rows = [(i, good + f"doc{i}") for i in range(20)]
    rows.append((100, rows[0][1]))          # exact duplicate of doc 0 -> dropped
    rows.append((101, "!!! ??? ##"))        # junk -> quality-filtered
    rows.append((102, good + "mail me at a@b.com please"))
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(src)
    rc = cli.main(["curate", src, out, "--redact-pii"])
    assert rc == 0
    got = spark.read.parquet(out)
    ids = {r.doc_id for r in got.collect()}
    assert 100 not in ids and 101 not in ids and 0 in ids and 102 in ids
    # split partitioning on disk, and PII gone from the text
    assert any(d.startswith("split=") for d in os.listdir(out))
    red = got.filter("doc_id = 102").collect()[0]
    assert "[EMAIL]" in red.text and red.n_redacted == 1
    assert "curated" in capsys.readouterr().out


def test_export_delta_cli(spark, tmp_path, capsys):
    from dax_ppdb_spark.io.delta_export import delta_live_files
    from dax_ppdb_spark.io.table import ParquetTable

    t = ParquetTable(str(tmp_path / "tbl"))
    t.overwrite(spark.range(10).withColumnRenamed("id", "k"))
    assert cli.main(["export-delta", t.path]) == 0
    assert "commit 0" in capsys.readouterr().out
    assert len(delta_live_files(t.path)) >= 1


def test_run_with_live_jdbc_source(spark, tmp_path, capsys):
    """`run` against a jdbc: source exports each chunk's tables from
    the live database (per-chunk partitioned reads), stages them, and
    promotion produces the public snapshot — the reference's
    _replicate_one loop end to end."""
    import datetime

    import yaml

    from dax_ppdb_spark.io.jdbc import DERBY_DRIVER, write_jdbc_table

    spark._jvm.java.lang.System.setProperty(
        "derby.system.home", str(tmp_path / "derby_home")
    )
    url = f"jdbc:derby:{tmp_path}/apdb_live;create=true"
    created = (
        datetime.datetime.now(datetime.timezone.utc).timestamp() - 3600.0
    )
    write_jdbc_table(
        spark.createDataFrame(
            [(1, "uid-1", created)],
            "apdb_replica_chunk LONG, unique_id STRING, created_at DOUBLE",
        ),
        url,
        "apdb_replica_chunks",
        DERBY_DRIVER,
    )
    write_jdbc_table(
        spark.createDataFrame(
            [(1, 10, 100.0, None, 45.0, -30.0, 1), (1, 20, 100.0, None, 46.0, -31.0, 1)],
            "apdb_replica_chunk LONG, diaObjectId LONG, validityStartMjdTai DOUBLE, "
            "validityEndMjdTai DOUBLE, ra DOUBLE, dec DOUBLE, nDiaSources INT",
        ),
        url,
        "DiaObject",
        DERBY_DRIVER,
    )
    root = str(tmp_path / "ppdb")
    cfg = {
        "implementation_type": "spark",
        "root": root,
        "source": url,
        "jdbc_driver": DERBY_DRIVER,
        "jdbc_tables": ["DiaObject"],
    }
    cfg_path = str(tmp_path / "cfg.yaml")
    with open(cfg_path, "w") as f:
        yaml.safe_dump(cfg, f)

    assert cli.main(["run", "--config", cfg_path]) == 0
    assert "replicated: [1]" in capsys.readouterr().out
    assert cli.main(["promote", "--root", root]) == 0
    assert "promoted: [1]" in capsys.readouterr().out
    pub = Promoter(spark, root).public_diaobject.read(spark)
    assert pub.count() == 2


def test_cli_ann_build_and_query(tmp_path, capsys):
    from dax_ppdb_spark.cli import main

    from dax_ppdb_spark.session import get_spark

    spark = get_spark("test-cli-ann")
    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(50)
    ]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>").write.parquet(emb_path)
    idx = str(tmp_path / "index")
    assert main(["ann-build", emb_path, idx, "--clusters", "4"]) == 0
    q_path = str(tmp_path / "q.parquet")
    spark.createDataFrame(rows[:2], "vec_id LONG, embedding ARRAY<DOUBLE>").write.parquet(q_path)
    out_path = str(tmp_path / "hits.parquet")
    assert main(["ann-query", idx, q_path, "-k", "3", "--out", out_path]) == 0
    hits = spark.read.parquet(out_path)
    assert hits.count() == 6  # 2 queries x top-3
    assert set(hits.columns) == {"query_id", "rank", "neighbor_id", "cosine"}
    # the PQ tier behind the same commands
    idx_pq = str(tmp_path / "index_pq")
    assert main(
        ["ann-build", emb_path, idx_pq, "--kind", "pq", "--clusters", "4",
         "--pq-m", "2", "--pq-codebook", "4"]
    ) == 0
    out_pq = str(tmp_path / "hits_pq.parquet")
    assert main(
        ["ann-query", idx_pq, q_path, "--kind", "pq", "-k", "3",
         "--out", out_pq]
    ) == 0
    hits_pq = spark.read.parquet(out_pq)
    assert hits_pq.count() == 6
    assert set(hits_pq.columns) == {"query_id", "rank", "neighbor_id", "cosine"}


def test_bucket_table_and_validate_cmds(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.parquet(src)
    out = str(tmp_path / "bkt")
    assert (
        cli.main(
            ["bucket-table", src, out, "--key", "k", "--buckets", "4",
             "--table", "cli_bkt"]
        )
        == 0
    )
    assert "bucketed 100 rows into 4 buckets" in capsys.readouterr().out
    spark.sql("DROP TABLE IF EXISTS cli_bkt")
    # audit with the right spec passes...
    assert (
        cli.main(["bucket-validate", out, "--key", "k", "--buckets", "4"]) == 0
    )
    assert "layout ok: 100 rows" in capsys.readouterr().out
    spark.sql("DROP TABLE IF EXISTS bucket_validate_probe")
    # ...and a wrong declared bucket count fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="wrong bucket"):
        cli.main(["bucket-validate", out, "--key", "k", "--buckets", "8"])
    spark.sql("DROP TABLE IF EXISTS bucket_validate_probe")


def test_compact_ledger_command(spark, tmp_path):
    from dax_ppdb_spark.cli import main
    from dax_ppdb_spark.ledger import Ledger
    from dax_ppdb_spark.schema.registry import ChunkStatus

    led = Ledger(spark, str(tmp_path / "ledger"))
    led.insert_chunks([{"apdb_replica_chunk": i} for i in (1, 2)])
    led.update_chunks([1, 2], status=ChunkStatus.STAGED)
    led.update_chunks([1], status=ChunkStatus.PROMOTED)
    assert led.read_log().count() == 5
    assert main(["compact-ledger", led.table.path]) == 0
    assert led.read_log().count() == 2
    rows = {r.apdb_replica_chunk: r.status for r in led.read().collect()}
    assert rows == {1: "PROMOTED", 2: "STAGED"}


def test_audit_command(spark, tmp_path, capsys):
    """`audit` exits 0 on a clean table, 1 on violations, writes the
    row-level quarantine parquet, and parses FK rules from the spec."""
    table = str(tmp_path / "t")
    parent = str(tmp_path / "p")
    spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, -1.0), (3, 99, 2.0)], "id long, fk long, score double"
    ).write.parquet(table)
    spark.createDataFrame([(10,), (11,)], "pk long").write.parquet(parent)

    rules = [
        {"kind": "not_null", "col": "id"},
        {"kind": "in_range", "col": "score", "lo": 0.0},
        {"kind": "unique", "cols": ["id"]},
        {"kind": "foreign_key", "cols": ["fk"], "ref": parent,
         "ref_cols": ["pk"], "name": "t_fk"},
    ]
    spec = tmp_path / "rules.json"
    spec.write_text(json.dumps(rules))

    out = str(tmp_path / "quarantine")
    rc = cli.main([
        "audit", table, "--rules", str(spec),
        "--violations", out, "--id-cols", "id",
    ])
    assert rc == 1  # in_range + fk fail
    printed = capsys.readouterr().out
    assert "FAIL  in_range(score): 1/3" in printed
    assert "FAIL  foreign_key(t_fk): 1/3" in printed
    assert "PASS  not_null(id): 0/3" in printed
    quarantined = sorted(
        (r["id"], r["rule"]) for r in spark.read.parquet(out).collect()
    )
    assert quarantined == [(2, "in_range(score)"), (3, "foreign_key(t_fk)")]

    clean_spec = tmp_path / "clean.json"
    clean_spec.write_text(json.dumps([{"kind": "not_null", "col": "id"}]))
    assert cli.main(["audit", table, "--rules", str(clean_spec)]) == 0
