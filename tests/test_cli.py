"""CLI smoke tests (subprocess: the CLI owns and stops its session,
which must not tear down the shared pytest session)."""

from __future__ import annotations

import pytest

import os
import subprocess
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_dedup_subcommand_end_to_end(tmp_path):
    out = str(tmp_path / "clusters")
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "wikihadoop_spark",
            "dedup",
            "--input",
            f"{SF}/documents.parquet",
            "--output",
            out,
            "--threshold",
            "0.5",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "bucket-cap dropped members: 0" in r.stdout

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, component, n_members, is_keeper FROM read_parquet('{out}/*.parquet')"
    ).fetchall()
    n_docs = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert len(rows) == n_docs
    # keeper is the component label itself, exactly one per component
    comps = {}
    for doc_id, comp, n_members, is_keeper in rows:
        assert is_keeper == (doc_id == comp)
        comps.setdefault(comp, []).append(n_members)
    for comp, sizes in comps.items():
        assert len(set(sizes)) == 1 and sizes[0] == len(sizes)
    assert any(s[0] > 1 for s in comps.values())  # corpus has real dupes


@pytest.mark.slow
def test_curate_subcommand_end_to_end(tmp_path):
    out = str(tmp_path / "shards")
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{SF}/documents.parquet",
            "--output", out,
            "--weights", "src0=5",
            "--token-budget", "30000",
            "--shard-budget", "2000",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "curated input:" in r.stdout and "mixture:" in r.stdout
    # the written shards reassemble a non-empty curated corpus
    n = duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/*/*.parquet')").fetchone()[0]
    assert n > 0


@pytest.mark.slow
def test_curate_subcommand_keeper_and_waterfill_flags(tmp_path):
    out = str(tmp_path / "curated")
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{SF}/documents.parquet",
            "--output", out,
            "--keeper", "best_quality",
            "--waterfill",
            "--token-budget", "20000",
            "--scrub-pii",
            "--chunk-tokens", "64",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "mixture:" in r.stdout
    assert "pii_redactions:" in r.stdout and "chunks:" in r.stdout
    n = duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n > 0
    cols = duckdb.sql(f"SELECT * FROM read_parquet('{out}/*.parquet') LIMIT 0").columns
    assert "chunk_idx" in cols and "chunk_text" in cols


@pytest.mark.slow
def test_curate_subcommand_jsonl_in_jsonl_out(tmp_path):
    """The trainer interchange loop: *.jsonl.zst shards in, curated
    gzip jsonl shards out, stage counters printed."""
    from wikihadoop_spark.sources.jsonl import ensure_gate_jsonl

    src = ensure_gate_jsonl(SF)
    out = str(tmp_path / "curated")
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{src}/*.jsonl.zst",
            "--input-format", "jsonl",
            "--output", out,
            "--output-format", "jsonl",
            "--output-shards", "3",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "curated input:" in r.stdout
    got = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT doc_id) FROM read_json_auto('{out}/part-*.json.gz')"
    ).fetchone()
    assert got[0] > 0 and got[0] == got[1]
    import glob as _g
    assert len(_g.glob(f"{out}/part-*.json.gz")) == 3

    # --shard-budget + jsonl output is an argparse error, not a crash
    r2 = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{src}/*.jsonl.zst", "--input-format", "jsonl",
            "--output", out, "--output-format", "jsonl",
            "--shard-budget", "2000",
        ],
        capture_output=True, text=True, timeout=120, env=env, cwd=REPO,
    )
    assert r2.returncode == 2 and "--shard-budget" in r2.stderr

    # --output-shards + --shard-budget is the same conflict class:
    # token-budget packing owns the file layout, so the flag would be
    # silently ignored — argparse error instead
    r3 = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{src}/*.jsonl.zst", "--input-format", "jsonl",
            "--output", out,
            "--shard-budget", "2000", "--output-shards", "3",
        ],
        capture_output=True, text=True, timeout=120, env=env, cwd=REPO,
    )
    assert r3.returncode == 2 and "--output-shards" in r3.stderr


@pytest.mark.slow
def test_curate_output_shards_parquet(tmp_path):
    """--output-shards is honored for parquet output too (round-9 fix:
    it was silently ignored), controlling the output file count."""
    out = str(tmp_path / "curated_pq")
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{SF}/documents.parquet",
            "--output", out,
            "--output-shards", "3",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import glob as _g
    files = _g.glob(f"{out}/part-*.parquet")
    assert len(files) == 3
    n = duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n > 0


def test_revisions_subcommand_writes_base_schema(tmp_path):
    """The revisions table keeps the base revision schema (FIXTURES.md
    §1): none of the scan's pairing or diff columns are written."""
    import pyarrow.parquet as pq

    from wikihadoop_spark.sources.wikidump import BASE_SCHEMA_DDL

    from dump_fixtures import EXPECTED_REV_IDS, standard_dump, write_dump

    path = write_dump(tmp_path, standard_dump())
    out = str(tmp_path / "revisions")
    r = subprocess.run(
        [sys.executable, "-m", "wikihadoop_spark", "revisions",
         "--input", path, "--output", out, "--cores", "2"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    table = pq.read_table(out)
    assert table.schema.names == [c.split()[0] for c in BASE_SCHEMA_DDL.split(", ")]
    assert sorted(table.column("rev_id").to_pylist()) == EXPECTED_REV_IDS


def test_readme_documents_every_cli_flag():
    """Doc-coverage guard for the CLI surface, mirroring the
    query/COVERAGE.md guard: every flag registered in __main__.py must
    appear in README.md's CLI section — README-vs-argparse drift
    shipped twice before this guard existed."""
    import re

    src = open(os.path.join(REPO, "wikihadoop_spark", "__main__.py")).read()
    flags = sorted(set(re.findall(r'"(--[a-z][a-z-]*)"', src)))
    assert len(flags) > 25  # the regex really found the surface
    readme = open(os.path.join(REPO, "README.md")).read()
    missing = [f for f in flags if f"`{f}`" not in readme and f not in readme]
    assert not missing, f"flags absent from README.md: {missing}"


@pytest.mark.slow
def test_curate_dedup_spans_flags(tmp_path):
    """--dedup-spans runs the span stage (counter printed); span knobs
    without the flag are an argparse error, not a silent no-op."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{SF}/documents.parquet",
            "--output", str(tmp_path / "out"),
            "--quality-threshold", "-1000000000",
            "--dedup-spans", "--span-k", "5",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "span_tokens_removed:" in r.stdout

    bad = subprocess.run(
        [
            sys.executable, "-m", "wikihadoop_spark", "curate",
            "--input", f"{SF}/documents.parquet",
            "--output", str(tmp_path / "out2"),
            "--span-k", "5",
        ],
        capture_output=True, text=True, timeout=120, env=env, cwd=REPO,
    )
    assert bad.returncode != 0
    assert "--dedup-spans" in bad.stderr


@pytest.mark.slow
def test_ann_subcommand_build_append_search(tmp_path):
    """The train-once/search-many workflow end-to-end through the CLI:
    build writes the int8 IVF artifact, append grows it without
    re-training, search reads it — and the searched results must agree
    with a DuckDB replay of the exact int8 math for the appended
    near-copy (it quantizes identically, so it ranks first for its
    source vector)."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "topk")
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "wikihadoop_spark", "ann", *argv],
            cwd=REPO, env=env, capture_output=True, text=True,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    stdout = run(
        "build", "--input", f"{SF}/embeddings.parquet", "--index", idx,
        "--clusters", "4",
    )
    assert "train once" in stdout
    assert os.path.isdir(os.path.join(idx, "vectors"))
    assert os.path.isdir(os.path.join(idx, "centroids"))

    # append near-copies of vectors 0 and 1 under shifted ids
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT vec_id + 1000000 AS vec_id, embedding
          FROM read_parquet('{SF}/embeddings.parquet') WHERE vec_id < 2
        ) TO '{tmp_path}/new.parquet' (FORMAT PARQUET)
        """
    )
    stdout = run("append", "--input", f"{tmp_path}/new.parquet", "--index", idx)
    assert "no re-train" in stdout

    con.execute(
        f"""
        COPY (
          SELECT vec_id, embedding
          FROM read_parquet('{SF}/embeddings.parquet') WHERE vec_id < 2
        ) TO '{tmp_path}/queries.parquet' (FORMAT PARQUET)
        """
    )
    run(
        "search", "--input", f"{tmp_path}/queries.parquet", "--index", idx,
        "--output", out, "--topk", "5", "--nprobe", "2",
    )
    res = con.execute(
        f"SELECT * FROM read_parquet('{out}/*.parquet') ORDER BY query_id, rank"
    ).fetchall()
    by_query = {}
    for query_id, neighbor_id, int_dot, qcos, rank in res:
        by_query.setdefault(query_id, []).append((rank, neighbor_id, qcos))
    # each query's appended twin quantizes identically -> qcos == 1.0
    # exactly (integer dot over identical int8 vectors) and rank 1
    for q in (0, 1):
        rank1 = by_query[q][0]
        assert rank1[0] == 1 and rank1[1] == q + 1000000, by_query[q]
        assert rank1[2] == 1.0


@pytest.mark.slow
def test_curate_lm_gate_flags(tmp_path):
    """The CCNet tail-drop gate through the CLI: --lm-reference fits
    the LM, --lm-max-entries prunes the scoring artifact (bound
    printed), the thresholds fit on the input corpus, and the chain
    drops the tail bucket — survivors must be a strict subset of the
    same command without the gate."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")

    def run(out, *extra):
        r = subprocess.run(
            [
                sys.executable, "-m", "wikihadoop_spark", "curate",
                "--input", f"{SF}/documents.parquet",
                "--output", out,
                "--quality-threshold", "-1000000000",
                *extra,
            ],
            cwd=REPO, env=env, capture_output=True, text=True,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    base = str(tmp_path / "no_gate")
    gated = str(tmp_path / "gated")
    run(base)
    stdout = run(
        gated,
        "--lm-reference", f"{SF}/documents.parquet",
        "--lm-buckets", "3",
        "--lm-max-entries", "10",
    )
    assert "lm table pruned to 10 entries" in stdout
    assert "lm tail-drop gate: keep lm_bits <=" in stdout

    con = duckdb.connect()
    ids = lambda p: {
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{p}/*.parquet')"
        ).fetchall()
    }
    a, b = ids(base), ids(gated)
    assert b < a  # the tail bucket was dropped, nothing else changed
