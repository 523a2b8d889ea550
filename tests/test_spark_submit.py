"""North-rule deployment contract: the job runs via
``spark-submit --py-files pipeline.zip`` (cli.py docstring), writes the
warehouse stages + lineage checkpoints, and a re-submit resumes from
the checkpoint without recomputing finished conversations."""

import os
import re
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(sys.executable))),
    "lib", "python%d.%d" % sys.version_info[:2],
    "site-packages", "pyspark", "bin", "spark-submit",
)
if not os.path.exists(SPARK_SUBMIT):
    SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_spark_submit_py_files_and_resume(spark, tmp_path):
    # package the library the way the cli docstring prescribes
    zip_path = str(tmp_path / "pipeline.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _, files in os.walk(os.path.join(REPO, "ontocast_spark")):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, REPO))

    # transcript-shaped input
    from ontocast_spark.schemas import CONVERSATIONS
    from ontocast_spark.synth import gen_corpus

    in_path = str(tmp_path / "conv")
    spark.createDataFrame(
        gen_corpus(30, seed=11, mega_every=0), CONVERSATIONS
    ).write.mode("overwrite").parquet(in_path)

    job = str(tmp_path / "job.py")
    with open(job, "w") as f:
        f.write("import sys\nfrom ontocast_spark.cli import main\n"
                "main(sys.argv[1:])\n")

    warehouse = str(tmp_path / "wh")
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.driver.memory=6g",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path, job,
        "--input", in_path, "--warehouse", warehouse,
    ]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)

    out1 = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420, env=env
    )
    assert out1.returncode == 0, out1.stderr[-2000:]
    m = re.search(r"kg_triples rows: (\d+)", out1.stdout)
    assert m and int(m.group(1)) > 0
    n1 = int(m.group(1))
    # kg_canon is the one stored KG table; kg_triples and
    # ontology_alignments are its projections, computed when read
    assert sorted(os.listdir(warehouse)) == ["checkpoints", "kg_canon"]

    # resume: a second submit over the same warehouse anti-joins every
    # finished conversation away — identical store, no duplicates
    out2 = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420, env=env
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    m2 = re.search(r"kg_triples rows: (\d+)", out2.stdout)
    assert m2 and int(m2.group(1)) == n1


def test_cli_subcommands_roundtrip(spark, tmp_path):
    """dedup / canonicalize (batch + incremental) / corpus subcommands
    write their parquet outputs and compose across invocations."""
    from pyspark.sql import functions as F

    from ontocast_spark.cli import main

    base = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta " * 3 + "one two three"),
         (2, "alpha beta gamma delta epsilon zeta " * 3 + "one two THREE"),
         (3, "a different document about catalyst physical plans today")],
        "doc_id long, text string",
    )
    docs.write.parquet(f"{base}/docs.parquet")

    main(["dedup", "--input", f"{base}/docs.parquet", "--out", f"{base}/dd",
          "--threshold", "0.8", "--num-hashes", "8"])
    kept = sorted(r["doc_id"] for r in
                  spark.read.parquet(f"{base}/dd/deduped").collect())
    assert kept == [1, 3]

    main(["corpus", "--input", f"{base}/docs.parquet", "--out", f"{base}/cc",
          "--min-tokens", "3", "--dedup-threshold", "0.8"])
    corpus = spark.read.parquet(f"{base}/cc/corpus")
    dropped = spark.read.parquet(f"{base}/cc/dropped")
    assert corpus.count() + dropped.select("doc_id").distinct().count() == 3
    assert spark.read.parquet(f"{base}/cc/packing").count() == corpus.count()

    RDFS = "http://www.w3.org/2000/01/rdf-schema#label"
    tri = spark.createDataFrame(
        [("c1", "https://x/doc/1", "h", "https://x/doc/1/chunk/h",
          "https://x/doc/1/chunk/h/acme", RDFS, "ACME Corp", True, None),
         ("c2", "https://x/doc/2", "h", "https://x/doc/2/chunk/h",
          "https://x/doc/2/chunk/h/acme", RDFS, "ACME Corporation", True, None)],
        "conv_id string, doc_iri string, chunk_hid string, chunk_iri string, "
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_datatype string",
    )
    tri.write.parquet(f"{base}/facts.parquet")
    main(["canonicalize", "--facts", f"{base}/facts.parquet",
          "--out", f"{base}/c1", "--kg-namespace", "https://x/kg/"])
    m1 = {r["original_iri"]: r["canonical_iri"]
          for r in spark.read.parquet(f"{base}/c1/mapping").collect()}
    assert len(set(m1.values())) == 1  # both acme variants merged

    tri2 = tri.limit(1).withColumn("conv_id", F.lit("c3"))
    tri2.write.parquet(f"{base}/facts2.parquet")
    main(["canonicalize", "--facts", f"{base}/facts2.parquet",
          "--out", f"{base}/c2", "--kg-namespace", "https://x/kg/",
          "--existing-mapping", f"{base}/c1/mapping",
          "--canon-meta", f"{base}/c1/canon_meta"])
    m2 = {r["original_iri"]: r["canonical_iri"]
          for r in spark.read.parquet(f"{base}/c2/mapping").collect()}
    for o, c in m1.items():
        assert m2[o] == c  # stability through the CLI files

    # sparql subcommand: query text against the facts table, parquet out
    qfile = tmp_path / "q.rq"
    qfile.write_text(
        'SELECT ?s ?l WHERE { ?s '
        f'<{RDFS}> ?l . FILTER(STRSTARTS(?l, "ACME")) }}'
    )
    main(["sparql", "--triples", f"{base}/facts.parquet",
          "--query-file", str(qfile), "--out", f"{base}/sq"])
    got = {(r["s"], r["l"]) for r in spark.read.parquet(f"{base}/sq").collect()}
    assert got == {
        ("https://x/doc/1/chunk/h/acme", "ACME Corp"),
        ("https://x/doc/2/chunk/h/acme", "ACME Corporation"),
    }
