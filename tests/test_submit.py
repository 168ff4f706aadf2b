"""The spark-submit deployment surface: the --py-files zip must contain
the whole package and import cleanly from the zip alone; the submit
script must build a real index from CLI args."""

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_importable(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package.py")],
        capture_output=True, text=True, check=True,
    )
    zpath = out.stdout.strip()
    assert zpath.endswith(".zip") and os.path.exists(zpath)
    names = zipfile.ZipFile(zpath).namelist()
    assert "text_search_spark/index/build.py" in names
    assert "text_search_spark/streaming/windows.py" in names
    # import from the zip ONLY (what executors see via --py-files)
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import text_search_spark.index.build as b; "
        "import text_search_spark.operators.ann; "
        "print(b.TOKENS_TMP)" % zpath
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
        cwd=str(tmp_path),  # not the repo: the zip must be self-sufficient
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert r.stdout.strip() == "tokens_tmp"


def test_submit_build_cli(spark, tmp_path, monkeypatch):
    """Drive scripts/submit_build.py's main() through its CLI surface
    (in-process so the shared session is reused; its spark.stop() is
    no-op'd so the session-scoped fixture survives for later tests)."""
    import pandas as pd
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    src = str(tmp_path / "corpus.parquet")
    pd.DataFrame(
        {
            "url": [f"https://x.example/p{i}" for i in range(80)],
            "text": [f"alpha beta w{i % 7} gamma" for i in range(80)],
        }
    ).to_parquet(src)
    ix = str(tmp_path / "ix")
    argv = [
        "submit_build.py", "--input", src, "--index", ix,
        "--n-buckets", "4", "--n-shards", "2", "--bucket-groups", "2",
    ]
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import submit_build

        old = sys.argv
        sys.argv = argv
        try:
            submit_build.main()
        finally:
            sys.argv = old
    finally:
        sys.path.pop(0)

    from text_search_spark.index import format as ixfmt
    from text_search_spark.index.query import QuerySpec, bm25_topk_rows

    man = ixfmt.load_manifest(ix)
    assert man is not None and man.complete and man.n_docs == 80
    rows = bm25_topk_rows(spark, ix, [QuerySpec("q", ["ALPHA"], "or")], k=3)
    assert len(rows) == 3


def test_submit_maintain_cli(spark, tmp_path, monkeypatch):
    """The lifecycle ops script: delete -> compact(purge) -> history ->
    expire -> vacuum, all through the CLI surface (in-process, shared
    session)."""
    import pandas as pd
    from pyspark.sql import SparkSession

    from text_search_spark.index import format as ixfmt

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    src = str(tmp_path / "corpus.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(60)),
            "url": [f"https://x.example/p{i}" for i in range(60)],
            "text": [f"alpha beta w{i % 7} gamma" for i in range(60)],
        }
    ).to_parquet(src)
    ix = str(tmp_path / "m_ix")

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import submit_build
        import submit_maintain

        def run(script, argv):
            old = sys.argv
            sys.argv = [script.__name__ + ".py"] + argv
            try:
                script.main()
            finally:
                sys.argv = old

        run(submit_build, [
            "--input", src, "--index", ix, "--doc-id-col", "doc_id",
            "--n-buckets", "4", "--n-shards", "2", "--bucket-groups", "2",
        ])
        ids = str(tmp_path / "takedowns.parquet")
        pd.DataFrame({"doc_id": list(range(0, 60, 3))}).to_parquet(ids)
        run(submit_maintain, ["--index", ix, "delete", "--ids-parquet", ids])
        run(submit_maintain, ["--index", ix, "compact"])
        run(submit_maintain, ["--index", ix, "expire", "--retain-last", "1"])
        run(submit_maintain, [
            "--index", ix, "vacuum", "--grace-s", "0", "--retain-last", "1",
        ])
        run(submit_maintain, ["--index", ix, "history"])
    finally:
        sys.path.pop(0)

    from text_search_spark.index import format as ixfmt
    from text_search_spark.index.query import QuerySpec, bm25_topk_rows

    man = ixfmt.load_manifest(ix)
    assert man.n_docs == 40 and man.tombstone_files is None
    rows = bm25_topk_rows(spark, ix, [QuerySpec("q", ["alpha"], "or")], k=60)
    assert {r[2] for r in rows} == {i for i in range(60) if i % 3 != 0}


def test_submit_maintain_rejects_object_store_uri(tmp_path):
    """Round-7 ADVICE fix: '--index s3://bucket/ix delete' used to
    create a LOCAL 's3:/bucket/ix' directory, write the tombstone
    there, and print success — a takedown reported applied but never
    applied. Pinned: non-file URI schemes exit loudly BEFORE any IO, in
    the maintenance and the build script alike; file:// is accepted and
    stripped."""
    import pytest

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import submit_build
        import submit_maintain

        for bad in ("s3://bucket/ix", "gs://b/ix", "hdfs://nn/ix",
                    "s3a://b/ix"):
            for script, argv in (
                (submit_maintain, ["--index", bad, "history"]),
                (submit_build, ["--input", str(tmp_path / "in"),
                                "--index", bad]),
            ):
                old = sys.argv
                sys.argv = [script.__name__ + ".py"] + argv
                try:
                    with pytest.raises(SystemExit) as ei:
                        script.main()
                    assert ei.value.code not in (0, None)
                finally:
                    sys.argv = old
        # nothing got created under a URI-shaped local path
        assert not os.path.exists("s3:") and not os.path.exists("s3:/")

        # file:// is local — accepted, stripped, and works end-to-end
        ix = str(tmp_path / "f_ix")
        from text_search_spark.index import format as ixfmt

        m0 = ixfmt.IndexManifest(
            format_version=ixfmt.FORMAT_VERSION, complete=True,
            segment_files=[],
        )
        ixfmt.save_manifest(ix, m0)
        old = sys.argv
        sys.argv = ["submit_maintain.py", "--index", "file://" + ix,
                    "history"]
        try:
            submit_maintain.main()
        finally:
            sys.argv = old

        assert ixfmt.require_local_index("/plain/path") == "/plain/path"
        assert ixfmt.require_local_index("rel/path") == "rel/path"
    finally:
        sys.path.pop(0)
