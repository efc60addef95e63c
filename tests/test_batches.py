"""The batch-stamped sink protocol (bigdata2016w_spark/streaming/batches.py):
every foreachBatch sink refuses an unsafe start, and the lint that keeps
the protocol in that one module."""

import ast
import os
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "bigdata2016w_spark"
OWNER = PKG / "streaming" / "batches.py"

ORDERS = "o_orderkey long, o_custkey long, o_totalprice decimal(15,2)"
DOCS = "doc_id long, text string"
VECS = "vec_id long, embedding array<float>"


def _sinks(spark):
    """Sink name -> (input schema, start(stream, target, checkpoint))."""
    from bigdata2016w_spark.streaming import index_sink, ingest, ivm
    from bigdata2016w_spark.streaming.sketch_sink import (
        sketch_maintenance_sink,
    )

    dim = spark.createDataFrame([(1, 1)], "c_custkey long, c_nationkey int")
    return {
        "dedup_admission": (DOCS, ingest.dedup_admission_sink),
        "winnow_admission": (DOCS, ingest.winnow_admission_sink),
        "embedding_admission": (VECS, ingest.embedding_admission_sink),
        "ivm_view": (ORDERS, lambda s, t, c: ivm.ivm_view_sink(s, dim, t, c)),
        "cdc_ivm_view": (
            f"{ORDERS}, op string",
            lambda s, t, c: ivm.cdc_ivm_view_sink(s, dim, t, c),
        ),
        "sketch_maintenance": (
            "user_id long",
            lambda s, t, c: sketch_maintenance_sink(s, t, c, "user_id"),
        ),
        "ivfpq_append": (VECS, index_sink.ivfpq_append_sink),
    }


@pytest.mark.parametrize("plant", ["populated", "compacting"])
@pytest.mark.parametrize("sink", [
    "dedup_admission", "winnow_admission", "embedding_admission",
    "ivm_view", "cdc_ivm_view", "sketch_maintenance", "ivfpq_append",
])
def test_sink_refuses_unsafe_start(spark, tmp_path, sink, plant):
    """A fresh checkpoint against a target that already holds a batch dir
    (or, for the index sink, the tombstone a compaction leaves once no
    batch dir is left) would restart batch ids at 0 and overwrite or
    re-apply earlier batches; a standing compaction marker means the
    batch dirs may be half folded. Every sink refuses both before any
    query starts, and before it reads anything from its target: the
    index sink refuses on a bare directory with no index in it."""
    if sink == "ivfpq_append":
        target = str(tmp_path / "idx")
        root = f"{target}/codes_stream"
    else:
        target = root = str(tmp_path / "out")
    os.makedirs(root, exist_ok=True)
    if plant == "compacting":
        Path(f"{root}/_COMPACTING").touch()
        match = "auto-recover"
    elif sink == "ivfpq_append":
        Path(f"{root}/_COMPACTED").touch()
        match = "fresh"
    else:
        os.makedirs(f"{root}/batch=0")
        match = "fresh"
    schema, start = _sinks(spark)[sink]
    (tmp_path / "in").mkdir()
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    with pytest.raises(ValueError, match=match) as err:
        start(stream, target, str(tmp_path / "ckpt")).awaitTermination()
    if match == "fresh" and sink == "ivfpq_append":
        assert "tombstone" in str(err.value)


def test_index_sink_reports_marker_over_empty_index(spark, tmp_path):
    """A standing compaction marker is reported ahead of the index's own
    faults: over an index written from an empty corpus (no model to
    encode against) the sink still names the marker."""
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index
    from bigdata2016w_spark.streaming.index_sink import ivfpq_append_sink

    idx = str(tmp_path / "idx")
    write_ivfpq_index(spark.createDataFrame([], VECS), idx)
    os.makedirs(f"{idx}/codes_stream")
    Path(f"{idx}/codes_stream/_COMPACTING").touch()
    (tmp_path / "in").mkdir()
    stream = spark.readStream.schema(VECS).parquet(str(tmp_path / "in"))
    with pytest.raises(ValueError, match="auto-recover"):
        ivfpq_append_sink(stream, idx, str(tmp_path / "ckpt"))


def _protocol_uses(path: Path) -> list[str]:
    """Calls of ``foreachBatch`` or ``listStatus``, constructions of
    ``org.apache.hadoop.fs.Path``, and the compaction marker and
    tombstone names in any string but a docstring."""
    tree = ast.parse(path.read_text(), filename=str(path))
    docstrings = {
        id(node.value) for node in ast.walk(tree)
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
    }
    found = []
    for node in ast.walk(tree):
        f = getattr(node, "func", None)
        if isinstance(node, ast.Call) and isinstance(f, ast.Attribute) \
                and f.attr in ("foreachBatch", "listStatus"):
            found.append(f"{path.name}:{node.lineno} {f.attr}")
        elif isinstance(node, ast.Attribute) and node.attr == "Path" \
                and ast.unparse(node.value).endswith("org.apache.hadoop.fs"):
            found.append(f"{path.name}:{node.lineno} hadoop Path")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                and id(node) not in docstrings:
            for name in ("_COMPACTING", "_COMPACTED",
                         "org.apache.hadoop.fs.Path"):
                if name in node.value:
                    found.append(f"{path.name}:{node.lineno} {name}")
    return found


def test_one_module_owns_the_sink_protocol():
    """Starting a foreachBatch query, listing dirs through Hadoop, making
    a Hadoop path and naming the compaction marker or tombstone happen
    only in streaming/batches.py."""
    findings = [f for path in sorted(PKG.rglob("*.py")) if path != OWNER
                for f in _protocol_uses(path)]
    assert findings == []
    assert _protocol_uses(OWNER)  # the lint sees what it looks for
