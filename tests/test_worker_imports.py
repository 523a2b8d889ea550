"""What a Spark Python worker imports to run the fused KG task.

- Unpickling the task must not import pandas: the task body lives in
  ``kernels/construct.py`` and the package root is lazy, so it loads
  only the kernels. Checked after ``pyspark.worker`` (what
  ``pyspark.daemon`` preloads into every forked worker).
- Running the task must import nothing that ``ontocast_spark.daemon``'s
  preload has not already imported, so a worker forked from it imports no
  module at all: not at its first chunk split, its first native
  grouping or its first Arrow emit.

Each check runs in a fresh interpreter. No Spark session is started."""

import json
import pickle
import subprocess
import sys
from pathlib import Path

import pyarrow as pa

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import sys
import pyspark.worker
import ontocast_spark
import ontocast_spark.kernels.construct
import ontocast_spark.ontology
print("pandas" in sys.modules)
"""


def test_fused_task_imports_no_pandas():
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=ROOT, capture_output=True,
        text=True, timeout=120, check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "False", out.stdout


# argv: a pickle of (index, turns). The index stays a pickle
# until after the snapshot, as a broadcast reaches a worker; the turns
# are an Arrow IPC stream, as the JVM sends them (building the batch
# from Python lists here would load pyarrow's pandas shim before the
# snapshot and hide whether the daemon did).
PRELOAD_PROBE = """
import json, pickle, sys, types
import ontocast_spark.daemon
ontocast_spark.daemon.preload()  # what the daemon runs before manager()
import pyarrow.ipc
from ontocast_spark.kernels import aggregate, chunker
from ontocast_spark.kernels.construct import construct_batches

with open(sys.argv[1], "rb") as fh:
    index_blob, turns = pickle.load(fh)
batch = pyarrow.ipc.open_stream(turns).read_next_batch()
calls = {"split_text": 0, "native_group": 0}

def counted(name, fn):
    def call(*args, **kw):
        calls[name] += 1
        return fn(*args, **kw)
    return call

chunker.split_text = counted("split_text", chunker.split_text)
if aggregate._group_entities is not None:
    aggregate._group_entities = counted("native_group", aggregate._group_entities)

before = set(sys.modules)
index = types.SimpleNamespace(value=pickle.loads(index_blob))
out = list(construct_batches(
    iter([batch]), index=index, doc_prefix="https://example.com/doc/",
    max_chunks=None))
print(json.dumps({
    "new_modules": sorted(set(sys.modules) - before),
    "calls": calls,
    "batches": len(out),
    "docs": len(set(conv_id for b in out for conv_id in b.column("conv_id").to_pylist())),
}))
"""


def test_daemon_preload_covers_fused_task(tmp_path):
    from ontocast_spark.kernels.chunker import MAX_CHUNK_SIZE
    from ontocast_spark.ontology import builtin_ontology_index
    from ontocast_spark.operators.assemble import TURN_SEPARATOR
    from ontocast_spark.synth import gen_conversation

    default_doc = gen_conversation(0)
    mega_doc = gen_conversation(199)  # mega_every=200: a 400-turn document
    assert len(TURN_SEPARATOR.join(r[3] for r in mega_doc)) > MAX_CHUNK_SIZE
    rows = default_doc + mega_doc
    batch = pa.RecordBatch.from_pydict({
        "conv_id": [r[0] for r in rows],
        "turn_idx": [r[1] for r in rows],
        "text": [r[3] for r in rows],
    })
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as writer:
        writer.write_batch(batch)
    blob = tmp_path / "task.pickle"
    blob.write_bytes(pickle.dumps((
        pickle.dumps(builtin_ontology_index()), sink.getvalue().to_pybytes(),
    )))

    out = subprocess.run(
        [sys.executable, "-c", PRELOAD_PROBE, str(blob)], cwd=ROOT,
        capture_output=True, text=True, timeout=300, check=True,
    )
    report = json.loads(out.stdout.strip().splitlines()[-1])
    # the task really chunked a long document, grouped entities natively
    # and emitted Arrow, so each of those paths had its chance to import
    assert report["calls"]["split_text"] > 0, report
    assert report["calls"]["native_group"] > 0, report
    assert report["batches"] > 0 and report["docs"] == 2, report
    assert report["new_modules"] == [], report
