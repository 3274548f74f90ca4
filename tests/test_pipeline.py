"""End-to-end ingestion pipeline tests — mirrors the reference's runner
suite (download mode, parse mode, idempotent restart, report contents)."""

from __future__ import annotations

import gzip
import json
import subprocess
from pathlib import Path

import pytest
import yaml

from open_molecule_data_pipeline_spark.plans.checkpoint import (
    Checkpoint,
    CheckpointManager,
)
from open_molecule_data_pipeline_spark.plans.config import load_config
from open_molecule_data_pipeline_spark.plans.runner import run_ingestion
from open_molecule_data_pipeline_spark.sinks.report import human_bytes
from open_molecule_data_pipeline_spark.sources.download import (
    Aria2Options,
    build_aria2_argv,
    download,
)

from .test_sources import _write_sdf


@pytest.fixture()
def job_config(tmp_path):
    sdf_dir = tmp_path / "raw" / "pubchem"
    sdf_dir.mkdir(parents=True)
    _write_sdf(
        sdf_dir / "chunk_a.sdf.gz",
        [("1", "C", "methane"), ("2", "CC", "ethane"), ("3", "CCC", "propane")],
    )
    zinc_dir = tmp_path / "raw" / "zinc"
    zinc_dir.mkdir(parents=True)
    (zinc_dir / "AAAA.txt").write_text("C\tZINC01\nCC\tZINC02\n")
    cfg = {
        "job": {
            "output_dir": str(tmp_path / "out"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "batch_size": 2,
            "concurrency": 1,
            "compress_output": True,
            "sources": [
                {
                    "type": "sdf",
                    "name": "pubchem",
                    "options": {"paths": str(sdf_dir / "*.sdf.gz")},
                },
                {
                    "type": "smiles_table",
                    "name": "zinc",
                    "options": {"paths": str(zinc_dir / "*.txt")},
                },
            ],
        }
    }
    path = tmp_path / "job.yaml"
    path.write_text(yaml.safe_dump(cfg))
    return path


def test_config_validation(tmp_path, job_config):
    cfg = load_config(job_config)
    assert cfg.batch_size == 2
    assert [s.name for s in cfg.sources] == ["pubchem", "zinc"]

    bad = yaml.safe_load(job_config.read_text())
    bad["job"]["sources"].append(dict(bad["job"]["sources"][0]))
    p = tmp_path / "dup.yaml"
    p.write_text(yaml.safe_dump(bad))
    with pytest.raises(Exception, match="duplicate"):
        load_config(p)

    bad2 = yaml.safe_load(job_config.read_text())
    bad2["job"]["sources"][0]["type"] = "nonsense"
    p2 = tmp_path / "bad.yaml"
    p2.write_text(yaml.safe_dump(bad2))
    with pytest.raises(Exception):
        load_config(p2)


def test_parse_mode_end_to_end(spark, job_config):
    cfg = load_config(job_config)
    summaries = run_ingestion(spark, cfg, mode="parse")
    by_name = {s.name: s for s in summaries}
    assert by_name["pubchem"].records_written == 3
    assert by_name["zinc"].records_written == 2
    assert by_name["pubchem"].completed

    # gzip NDJSON with batch_size=2 -> at least 2 files for pubchem
    out = Path(cfg.output_dir) / "pubchem"
    files = sorted(out.glob("*.json.gz"))
    assert files, "expected gzip ndjson output"
    records = []
    for f in files:
        with gzip.open(f, "rt") as fh:
            records += [json.loads(line) for line in fh if line.strip()]
    assert sorted(r["identifier"] for r in records) == ["CID1", "CID2", "CID3"]
    assert all(r["source"] == "pubchem" for r in records)
    assert records[0]["metadata"]["PUBCHEM_IUPAC_NAME"]

    # checkpoint marked completed
    ckpt = CheckpointManager(Path(cfg.checkpoint_dir) / "ingestion-parse")
    assert ckpt.is_completed("pubchem") and ckpt.is_completed("zinc")

    # one batch per part file; Spark's hidden .crc checksums are not batches
    for name in ("pubchem", "zinc"):
        parts = sorted((Path(cfg.output_dir) / name).glob("part-*"))
        assert by_name[name].total_batches == len(parts), name
        assert ckpt.load(name).batch_index == len(parts), name
        assert by_name[name].output.total_bytes == sum(
            p.stat().st_size for p in parts
        ), name

    # report rendered with the summary table
    report = (Path(cfg.output_dir) / "raw-data-report.md").read_text()
    assert "| pubchem | sdf | yes |" in report
    assert "| zinc | smiles_table | yes |" in report

    # idempotent restart: completed sources are skipped, outputs untouched
    mtimes = {f: f.stat().st_mtime_ns for f in files}
    summaries2 = run_ingestion(spark, cfg, mode="parse")
    assert {s.name: s.completed for s in summaries2} == {
        "pubchem": True,
        "zinc": True,
    }
    assert {f: f.stat().st_mtime_ns for f in files} == mtimes


def test_summarize_directory_skips_hidden_files(spark, tmp_path):
    """Spark writes a hidden ``.part-*.crc`` checksum beside every part
    file; the batch and byte counts cover only the ``part-*`` files."""
    from open_molecule_data_pipeline_spark.sinks.ndjson import write_ndjson
    from open_molecule_data_pipeline_spark.sinks.report import summarize_directory

    write_ndjson(spark.range(5).toDF("id").coalesce(1), str(tmp_path), batch_size=2)
    parts = sorted(tmp_path.glob("part-*"))
    assert list(tmp_path.glob(".part-*.crc")), "expected Spark checksum files"
    got = summarize_directory(tmp_path, ("*.json*",))
    assert got.file_count == len(parts) == 3
    assert got.total_bytes == sum(p.stat().st_size for p in parts)


# Deliberately an INDEPENDENT copy of the ChEMBL record format (not
# imported from ingest_demo): the test pins the EXTERNAL file format the
# reference defines (chembl.py:40-47); sharing the template with the
# product would let a tag-spelling regression slip through with both
# sides drifting together.
_CHEMBL_SDF = """Demo
  -Engine-

M  END
>  <ChEMBL_ID>
CHEMBL{cid}

>  <CANONICAL_SMILES>
{smiles}

$$$$
"""


def test_named_connector_types(spark, tmp_path):
    """Reference registry type names (runner.py:45-50): ``pubchem`` /
    ``chembl`` / ``zinc`` resolve with each source's reference-default
    option mappings — no tag or column options spelled in the YAML."""
    pub_dir = tmp_path / "raw" / "pub"
    pub_dir.mkdir(parents=True)
    _write_sdf(pub_dir / "p.sdf.gz", [("7", "CCO", "ethanol")])
    chembl_dir = tmp_path / "raw" / "chembl"
    chembl_dir.mkdir(parents=True)
    body = "".join(
        _CHEMBL_SDF.format(cid=c, smiles=s) for c, s in [("11", "C"), ("12", "CC")]
    )
    (chembl_dir / "c.sdf.gz").write_bytes(gzip.compress(body.encode()))
    zinc_dir = tmp_path / "raw" / "zinc"
    zinc_dir.mkdir(parents=True)
    (zinc_dir / "AAAB.txt").write_text("CCN\tZINC11\n")
    cfg = {
        "job": {
            "output_dir": str(tmp_path / "out"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "batch_size": 10,
            "compress_output": False,
            "sources": [
                {"type": "pubchem", "name": "pub",
                 "options": {"paths": str(pub_dir / "*.sdf.gz")}},
                {"type": "chembl", "name": "chembl",
                 "options": {"paths": str(chembl_dir / "*.sdf.gz")}},
                {"type": "zinc", "name": "zinc",
                 "options": {"paths": str(zinc_dir / "*.txt")}},
            ],
        }
    }
    path = tmp_path / "named.yaml"
    path.write_text(yaml.safe_dump(cfg))
    summaries = run_ingestion(spark, load_config(path), mode="parse")
    by_name = {s.name: s for s in summaries}
    assert {n: s.records_written for n, s in by_name.items()} == {
        "pub": 1, "chembl": 2, "zinc": 1,
    }

    def read_ids(source):
        recs = []
        for f in sorted((tmp_path / "out" / source).glob("*.json")):
            recs += [json.loads(line) for line in f.read_text().splitlines() if line]
        return sorted(r["identifier"] for r in recs)

    assert read_ids("pub") == ["CID7"]
    assert read_ids("chembl") == ["CHEMBL11", "CHEMBL12"]
    assert read_ids("zinc") == ["ZINC11"]


def test_offset_http_source_through_runner(spark, tmp_path):
    """A YAML http source with pagination=offset routes through the Python
    Data Source (executor-parallel page ranges) instead of the sequential
    driver pump, with canned pages injected via the context seam."""
    cfg = {
        "job": {
            "output_dir": str(tmp_path / "out"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "compress_output": False,
            "sources": [
                {
                    "type": "http",
                    "name": "bulk",
                    "options": {
                        "base_url": "https://h",
                        "endpoint": "recs",
                        "pagination": "offset",
                        "total_pages": 3,
                        "pages_per_partition": 1,
                    },
                },
            ],
        }
    }
    path = tmp_path / "offset.yaml"
    path.write_text(yaml.safe_dump(cfg))
    pages = {
        "bulk": [
            {"records": [{"id": "p0", "smiles": "C"}]},
            {"records": [{"id": "p1", "smiles": "CC"}]},
            {"records": [{"id": "p2", "smiles": "CCC"}]},
        ]
    }
    summaries = run_ingestion(
        spark,
        load_config(path),
        mode="parse",
        context={"datasource_pages": pages},
    )
    assert summaries[0].records_written == 3
    recs = []
    for f in sorted((tmp_path / "out" / "bulk").glob("*.json")):
        recs += [json.loads(line) for line in f.read_text().splitlines() if line]
    assert sorted(r["identifier"] for r in recs) == ["p0", "p1", "p2"]


def test_parse_mode_concurrent(spark, job_config):
    cfg = load_config(job_config).model_copy(update={"concurrency": 2})
    summaries = run_ingestion(spark, cfg, mode="parse")
    assert [s.name for s in summaries] == ["pubchem", "zinc"]
    assert all(s.completed for s in summaries)


def test_download_mode_with_fake_runner(spark, tmp_path, job_config):
    manifest = tmp_path / "links.txt"
    manifest.write_text("https://host/a/one.sdf.gz\nhttps://host/a/two.sdf.gz\n")
    cfg = load_config(job_config)
    cfg.sources[0].options["manifest"] = str(manifest)
    cfg.sources[0].options["download_dir"] = str(tmp_path / "mirror")

    def fake_runner(argv):
        # aria2 writes --dir/--out; emulate it
        d = next(a.split("=", 1)[1] for a in argv if a.startswith("--dir="))
        o = next(a.split("=", 1)[1] for a in argv if a.startswith("--out="))
        Path(d).mkdir(parents=True, exist_ok=True)
        (Path(d) / o).write_bytes(b"data")
        return subprocess.CompletedProcess(argv, 0, "", "")

    # Patch the module-level default the distributed path closes over.
    import open_molecule_data_pipeline_spark.plans.runner as runner_mod

    summaries = run_ingestion(
        spark,
        cfg,
        mode="download",
        context={"downloaders": {"pubchem": fake_runner}},
    )
    by_name = {s.name: s for s in summaries}
    assert by_name["pubchem"].completed
    mirrored = sorted(
        p.name for p in (tmp_path / "mirror" / "pubchem").rglob("*") if p.is_file()
    )
    assert mirrored == ["one.sdf.gz", "two.sdf.gz"]
    # zinc has no manifest -> warning, not completed (reference runner.py:217-222)
    assert not by_name["zinc"].completed
    assert "warning" in by_name["zinc"].extra
    del runner_mod


def test_aria2_argv_contract(tmp_path):
    argv = build_aria2_argv(
        "https://h/x.gz",
        tmp_path / "x.gz",
        options=Aria2Options(max_connections_per_server=4, split=8),
        checksum=("md5", "abc"),
        username="u",
        password="p",
    )
    assert argv[0] == "aria2c"
    assert "--continue=true" in argv
    assert "--max-connection-per-server=4" in argv
    assert "--split=8" in argv
    assert "--checksum=md5=abc" in argv
    assert "--check-integrity=true" in argv
    assert "--http-user=u" in argv and "--http-passwd=p" in argv
    assert argv[-1] == "https://h/x.gz"


def test_download_skip_existing(tmp_path):
    target = tmp_path / "x.gz"
    target.write_bytes(b"nonempty")
    calls = []

    def runner(argv):
        calls.append(argv)
        return subprocess.CompletedProcess(argv, 0, "", "")

    assert download("https://h/x.gz", target, runner=runner) is False
    assert calls == []
    # zero-length file is NOT skipped (resume semantics, reference aria2.py:81)
    empty = tmp_path / "y.gz"
    empty.write_bytes(b"")
    assert download("https://h/y.gz", empty, runner=runner) is True
    assert len(calls) == 1


def test_download_failure_raises(tmp_path):
    def runner(argv):
        return subprocess.CompletedProcess(argv, 22, "", "404")

    with pytest.raises(RuntimeError, match="aria2c failed"):
        download("https://h/z.gz", tmp_path / "z.gz", runner=runner)


def test_checkpoint_roundtrip(tmp_path):
    mgr = CheckpointManager(tmp_path / "ck")
    assert mgr.load("src") is None
    cp = Checkpoint(cursor={"file_index": 1}, batch_index=3, completed=False)
    mgr.store("src", cp)
    loaded = mgr.load("src")
    assert loaded == cp
    assert not mgr.is_completed("src")
    mgr.store("src", Checkpoint(completed=True))
    assert mgr.is_completed("src")


def test_human_bytes():
    assert human_bytes(512) == "512 B"
    assert human_bytes(1536) == "1.5 KiB"
    assert human_bytes(3 * 1024**2) == "3.0 MiB"


def test_cli_ingest(job_config, capsys):
    from open_molecule_data_pipeline_spark.plans import cli

    assert cli.main(["ingest", "--config", str(job_config)]) == 0
    out = capsys.readouterr().out
    assert "pubchem: completed=True" in out


def test_http_source_through_runner(spark, tmp_path):
    """chemspider-type source flows through the full runner (X2 registry +
    K1 sink) with an injected fetcher."""
    import yaml as _yaml

    from open_molecule_data_pipeline_spark.plans.config import load_config

    pages = [
        {"results": [{"csid": 1, "smiles": "C", "formula": "CH4"}], "next": "1"},
        {"results": [{"csid": 2, "smiles": "CC", "formula": "C2H6"}], "next": None},
    ]

    def fetcher(url):
        idx = int(url.split("token=")[1].split("&")[0]) if "token=" in url else 0
        return pages[idx]

    cfg_dict = {
        "job": {
            "output_dir": str(tmp_path / "out"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "batch_size": 10,
            "sources": [{"type": "chemspider", "name": "csp", "options": {}}],
        }
    }
    p = tmp_path / "job.yaml"
    p.write_text(_yaml.safe_dump(cfg_dict))
    summaries = run_ingestion(
        spark, load_config(p), mode="parse", context={"fetchers": {"csp": fetcher}}
    )
    assert summaries[0].records_written == 2
    out = spark.read.json(str(tmp_path / "out" / "csp"))
    rows = {r.identifier: r for r in out.collect()}
    assert rows["1"].smiles == "C"
    assert rows["2"].metadata["formula"] == "C2H6"


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from open_molecule_data_pipeline_spark.plans.compact import (
        compact_parquet,
        plan_file_count,
    )

    target = tmp_path / "ds"
    df = spark.range(0, 10000).selectExpr("id", "id % 7 AS grp")
    df.repartition(40).write.parquet(str(target))
    n_before = len(list(target.rglob("*.parquet")))
    assert n_before >= 40

    stats = compact_parquet(spark, target, target_bytes=10**9)
    assert stats["files_before"] == n_before
    assert stats["files_after"] == 1

    back = spark.read.parquet(str(target))
    assert back.count() == 10000
    assert back.selectExpr("sum(id) AS s").collect()[0].s == sum(range(10000))
    assert plan_file_count(0) == 1
    assert plan_file_count(300 * 1024 * 1024, 128 * 1024 * 1024) == 3


def test_compact_recovers_interrupted_swap(spark, tmp_path):
    """ADVICE r1: a crash between the two swap renames must be recoverable —
    dataset gone from its path, complete generation stranded in a sibling."""
    from open_molecule_data_pipeline_spark.plans.compact import (
        compact_parquet,
        recover_interrupted_compaction,
    )

    target = tmp_path / "ds"
    spark.range(100).write.parquet(str(target))

    # window (a): root renamed away, tmp fully written -> promote tmp
    tmp_side = tmp_path / "ds_compact_tmp"
    spark.range(100).coalesce(1).write.parquet(str(tmp_side))
    live = spark.read.parquet(str(target)).count()
    target.rename(tmp_path / "ds_compact_old")
    assert recover_interrupted_compaction(target) == "tmp"
    assert spark.read.parquet(str(target)).count() == live
    assert not (tmp_path / "ds_compact_old").exists()

    # window (b): root renamed away, tmp missing -> restore old
    target.rename(tmp_path / "ds_compact_old")
    assert recover_interrupted_compaction(target) == "old"
    assert spark.read.parquet(str(target)).count() == live

    # live dataset -> no-op, and a full compaction still runs afterwards
    assert recover_interrupted_compaction(target) is None
    stats = compact_parquet(spark, target, target_bytes=10**9)
    assert stats["files_after"] <= stats["files_before"]


def test_download_checksum_sidecar_wiring(spark, tmp_path, job_config):
    """ADVICE r1: verify_checksums must fetch the md5 sidecar per manifest
    entry and pass --checksum to aria2 on the executor side (S7 parity)."""
    manifest = tmp_path / "links.txt"
    manifest.write_text("https://host/a/one.sdf.gz\n")
    cfg = load_config(job_config)
    cfg.sources[0].options["manifest"] = str(manifest)
    cfg.sources[0].options["download_dir"] = str(tmp_path / "mirror")
    cfg.sources[0].options["verify_checksums"] = True
    digest = "ab" * 16

    def fake_runner(argv):
        d = next(a.split("=", 1)[1] for a in argv if a.startswith("--dir="))
        o = next(a.split("=", 1)[1] for a in argv if a.startswith("--out="))
        Path(d).mkdir(parents=True, exist_ok=True)
        (Path(d) / o).write_text("\n".join(argv))
        return subprocess.CompletedProcess(argv, 0, "", "")

    sidecar_urls = []

    def fake_sidecar(url):
        sidecar_urls.append(url)
        return f"{digest}  one.sdf.gz\n"

    run_ingestion(
        spark,
        cfg,
        mode="download",
        context={
            "downloaders": {"pubchem": fake_runner},
            "sidecar_fetchers": {"pubchem": fake_sidecar},
        },
    )
    assert sidecar_urls == ["https://host/a/one.sdf.gz.md5"]
    argv_text = (tmp_path / "mirror" / "pubchem" / "one.sdf.gz").read_text()
    assert f"--checksum=md5={digest}" in argv_text
    assert "--check-integrity=true" in argv_text


def test_source_name_slug_validation():
    """ADVICE r1: names are interpolated into checkpoint paths — reject
    separators/traversal at the config boundary."""
    import pytest
    from pydantic import ValidationError

    from open_molecule_data_pipeline_spark.plans.config import SourceDefinition

    SourceDefinition(type="sdf", name="pubchem_2026.v1-full")
    for bad in ("a/b", "../x", ".hidden", "", "a b"):
        with pytest.raises(ValidationError):
            SourceDefinition(type="sdf", name=bad)


def test_cli_query_list_and_run(sf_dir, tmp_path, capsys):
    from open_molecule_data_pipeline_spark.plans.cli import main

    assert main(["query", "--list"]) == 0
    out = capsys.readouterr().out
    assert "agg_pricing_summary" in out
    assert "dedup_minhash_lsh_pairs" in out

    assert main(["query", "no_such_query", "--sf-dir", sf_dir]) == 2
    assert main(["query", "sort_top10_orders"]) == 2  # --sf-dir required

    dest = tmp_path / "q_out"
    rc = main(
        [
            "query",
            "sort_top10_orders",
            "--sf-dir",
            sf_dir,
            "--out",
            str(dest),
            "--format",
            "parquet",
        ]
    )
    assert rc == 0
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM '{dest}/*.parquet'"
    ).fetchone()[0]
    assert n == 10
