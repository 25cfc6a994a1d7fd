"""Sinks (TSV export S7, partitioned table S8, flatten P7) and PCA (K6/K7)."""

import glob
import gzip
import os

import pyspark.sql.functions as F

from exome_qc_library_spark.operators.pca import fit_pca, project_pcs
from exome_qc_library_spark.sources.sinks import export_tsv, flatten_structs, write_final_table


def test_flatten_structs(spark):
    df = spark.createDataFrame([(1, ("a", 2), (3.0,))], "id int, m struct<x:string,y:int>, s struct<z:double>")
    out = flatten_structs(df)
    assert set(out.columns) == {"id", "m_x", "m_y", "s_z"}
    r = out.collect()[0]
    assert r["m_x"] == "a" and r["m_y"] == 2 and r["s_z"] == 3.0


def test_export_tsv_gzip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ["a", "b"], ("x", 9))], "id int, tags array<string>, meta struct<k:string,v:int>"
    )
    p = export_tsv(df, str(tmp_path / "out"), single_file=True)
    files = glob.glob(os.path.join(p, "*.csv.gz"))
    assert len(files) == 1
    with gzip.open(files[0], "rt") as f:
        header = f.readline().strip().split("\t")
        row = f.readline().strip().split("\t")
    assert header == ["id", "tags", "meta_k", "meta_v"]
    assert row[0] == "1"
    # the CSV layer quote-escapes the JSON rendering of the array
    assert "a" in row[1] and "b" in row[1] and row[1].strip('"').startswith("[")


def test_export_jsonl_survivor_gated_interchange(spark, tmp_path):
    # S9 analog: survivors only, fixed column contract, gzipped JSON-lines
    # shards, byte-exact text round-trip (newlines + non-ASCII)
    from exome_qc_library_spark.sources.sinks import export_jsonl

    df = spark.createDataFrame(
        [
            ("u1", True, "line one\nline two é中文", "en", 0.9),
            ("u2", False, "dropped doc", "en", 0.1),
            ("u3", True, None, "de", 0.5),
        ],
        "url string, keep boolean, scrubbed_text string, lang_id string, quality_score double",
    )
    p = export_jsonl(df, str(tmp_path / "out"))
    assert glob.glob(os.path.join(p, "*.json.gz")), "expected gzipped shards"
    back = spark.read.schema(
        "url string, lang_id string, quality_score double, scrubbed_text string"
    ).json(p)
    rows = {r["url"]: r for r in back.collect()}
    assert set(rows) == {"u1", "u3"}  # u2 dropped by keep gate
    assert rows["u1"]["scrubbed_text"] == "line one\nline two é中文"
    assert rows["u3"]["scrubbed_text"] is None
    # keep_col=None disables gating; missing requested columns are skipped
    p2 = export_jsonl(
        df, str(tmp_path / "all"), columns=("url", "no_such_col"), keep_col=None
    )
    assert spark.read.json(p2).count() == 3
    try:
        export_jsonl(df, str(tmp_path / "none"), columns=("missing",))
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_write_final_table_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "en"), (2, "fr"), (3, "en")], "doc_id long, lang_id string"
    )
    p = write_final_table(df, str(tmp_path / "final"), partition_by=("lang_id",))
    assert os.path.isdir(os.path.join(p, "lang_id=en"))
    back = spark.read.parquet(p)
    assert back.count() == 3
    # partition pruning: reading one language touches one directory
    assert back.filter(F.col("lang_id") == "fr").count() == 1


def test_pca_projection_deterministic(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), float(i % 2), 1.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    l1 = fit_pca(df, k=2)
    l2 = fit_pca(df, k=2)
    assert [[round(x, 9) for x in a] for a in l1] == [[round(x, 9) for x in a] for a in l2]
    out = project_pcs(df, l1)
    assert {"pc1", "pc2"} <= set(out.columns)
    # projection is linear: doubling the vector doubles the score
    one = project_pcs(
        spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0]), (1, [2.0, 0.0, 0.0, 0.0])],
                              "vec_id long, embedding array<double>"),
        l1,
    ).collect()
    assert abs(one[1]["pc1"] - 2 * one[0]["pc1"]) < 1e-9


def test_sample_rows_seeded_deterministic(spark, pages):
    a = {r["url"] for r in pages.sample(fraction=0.2, seed=42).select("url").collect()}
    b = {r["url"] for r in pages.sample(fraction=0.2, seed=42).select("url").collect()}
    assert a == b and 0 < len(a) < pages.count()


def test_flatten_structs_collision_raises(spark):
    """Round-6 review: two sources flattening to one name must fail fast,
    not produce a duplicate-column frame that dies at the terminal CSV."""
    import pytest

    from exome_qc_library_spark.sources.sinks import flatten_structs

    df = spark.createDataFrame(
        [((1,), 2)], "a struct<b_c: int>, a_b_c int"
    )
    with pytest.raises(ValueError, match="flatten"):
        flatten_structs(df)


def test_fit_pca_ignores_null_embeddings(spark):
    """Round-6 review: pyspark.ml PCA NPEs on a null vector; fit must
    exclude NULLs and projection must map them to NULL scores."""
    rows = [(i, [float(i), float(i % 3), 1.0, 0.5]) for i in range(20)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = project_pcs(df, fit_pca(df, k=2))
    assert out.count() == 21
    nulls = out.filter("vec_id = 99").collect()[0]
    assert nulls["pc1"] is None and nulls["pc2"] is None
