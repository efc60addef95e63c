"""The geometry-bound ANN tier checks embeddings once, where they enter
it (``operators.similarity._checked``): every public entry raises the one
guard text on a short vector or a NULL element and drops a NULL row,
and the lint that keeps that guard in one place."""

import ast
import re
import shutil
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "bigdata2016w_spark"

Q = [0, 1, 2]
K = 3
# the clean corpus is vec_id < 40; the extra row sits inside every
# training sample (vec_id < 256) but outside the seed and init windows
EXTRA = 40


class Ctx:
    """What the entries share: the clean corpus, models and indexes
    built from it once, and a fresh directory per call."""

    def __init__(self, spark, clean, tmp):
        from bigdata2016w_spark.operators.similarity import (
            lloyd_centroids,
            pq_codebook,
            residual_pq_codebook,
        )
        from bigdata2016w_spark.sources.sinks import (
            write_ivfpq_index,
            write_pq_index,
        )

        self.spark, self.clean, self.tmp = spark, clean, tmp
        self.codebook = pq_codebook(clean)
        self.centroids = lloyd_centroids(clean, n_iter=1)
        self.residual_codebook = residual_pq_codebook(
            clean, centroids=self.centroids)
        self.pq_index, self.ivfpq_index = str(tmp / "pq"), str(tmp / "ivfpq")
        write_pq_index(clean, self.pq_index)
        write_ivfpq_index(clean, self.ivfpq_index)
        self.calls = 0

    def path(self, copy_of: str | None = None) -> str:
        self.calls += 1
        p = str(self.tmp / f"call{self.calls}")
        if copy_of:
            shutil.copytree(copy_of, p)
        return p

    def rows(self, df) -> list:
        return sorted(map(tuple, df.collect()))

    def read(self, path: str) -> list:
        return self.rows(self.spark.read.parquet(path))


def _queries(f):
    from pyspark.sql import functions as F

    return f.where(F.col("vec_id").isin(*Q) | (F.col("vec_id") >= EXTRA))


def _append_sink(ctx, f):
    from bigdata2016w_spark.streaming.index_sink import (
        ivfpq_append_sink,
        read_streamed_codes,
    )

    idx, src = ctx.path(ctx.ivfpq_index), ctx.path()
    f.coalesce(1).write.parquet(src)
    stream = ctx.spark.readStream.schema(f.schema).parquet(src)
    ivfpq_append_sink(stream, idx, ctx.path()).awaitTermination()
    return ctx.rows(read_streamed_codes(ctx.spark, idx))


def _entries():
    from bigdata2016w_spark.operators import similarity as s
    from bigdata2016w_spark.sources import sinks

    def write_pq(ctx, f):
        path = ctx.path()
        sinks.write_pq_index(f, path)
        return ctx.read(f"{path}/codebook") + ctx.read(f"{path}/codes")

    def write_ivfpq(ctx, f):
        path = ctx.path()
        sinks.write_ivfpq_index(f, path, n_iter=1)
        return ctx.read(f"{path}/centroids") + ctx.read(f"{path}/codes")

    def append(ctx, f):
        path = ctx.path(ctx.ivfpq_index)
        sinks.ivfpq_index_append(ctx.spark, path, f)
        return ctx.read(f"{path}/codes")

    return {
        "validated_embeddings":
            lambda ctx, f: ctx.rows(s.validated_embeddings(f)),
        "lloyd_centroids": lambda ctx, f: s.lloyd_centroids(f, n_iter=1),
        "pq_codebook": lambda ctx, f: ctx.rows(s.pq_codebook(f)),
        "pq_encode": lambda ctx, f: ctx.rows(s.pq_encode(f, ctx.codebook)),
        "residual_pq_codebook": lambda ctx, f: ctx.rows(
            s.residual_pq_codebook(f, centroids=ctx.centroids)),
        # every coarse and PQ path of knn reads the one checked frame;
        # the models come from the clean corpus, the codes from ``f``
        "knn-seed": lambda ctx, f: ctx.rows(s.knn(f, Q, K, coarse="seed")),
        "knn-pq": lambda ctx, f: ctx.rows(
            s.knn(f, Q, K, code="pq", codebook=ctx.codebook)),
        "knn-lloyd-residual_pq": lambda ctx, f: ctx.rows(s.knn(
            f, Q, K, coarse="lloyd", code="residual_pq",
            centroids=ctx.centroids, codebook=ctx.residual_codebook)),
        "knn_from_index-pq": lambda ctx, f: ctx.rows(s.knn_from_index(
            ctx.spark, ctx.pq_index, _queries(f), K)),
        "knn_from_index-ivfpq": lambda ctx, f: ctx.rows(s.knn_from_index(
            ctx.spark, ctx.ivfpq_index, _queries(f), K)),
        "write_pq_index": write_pq,
        "write_ivfpq_index": write_ivfpq,
        "ivfpq_index_append": append,
        "ivfpq_append_sink": _append_sink,
    }


ENTRIES = sorted(_entries())


@pytest.fixture(scope="module")
def ctx(spark, sf_dir, tmp_path_factory):
    from bigdata2016w_spark.sources.catalog import load_table

    clean = load_table(spark, sf_dir, "embeddings").where(
        f"vec_id < {EXTRA}").select("vec_id", "embedding")
    return Ctx(spark, clean, tmp_path_factory.mktemp("guard"))


@pytest.mark.parametrize("entry", ENTRIES)
def test_entry_checks_embeddings_once(ctx, entry):
    """A short vector and a NULL element each raise the one guard text
    (a short vector would otherwise take the lowest codeword or skew a
    centroid mean; a NULL element would turn into NaN inside the
    kernels), and a NULL row is dropped with the clean answers intact."""
    from bigdata2016w_spark.operators.similarity import _DIM_ERROR

    run = _entries()[entry]

    def plus(emb):
        return ctx.clean.union(ctx.spark.createDataFrame(
            [(EXTRA, emb)], ctx.clean.schema))

    for bad in ([1.0, 2.0, 3.0], [1.0, None] + [0.0] * 62):
        with pytest.raises(Exception,
                           match=re.escape(_DIM_ERROR.format(dim=64))):
            run(ctx, plus(bad))
    assert run(ctx, plus(None)) == run(ctx, ctx.clean)


def _docstrings(tree) -> set[int]:
    return {id(node.value) for node in ast.walk(tree)
            if isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)}


def _guard_uses(path: Path) -> list[tuple[str, str, str]]:
    """(file, owner, what) for every ``validated`` parameter or keyword,
    every string holding the geometry error text outside a docstring,
    and every read of ``_DIM_ERROR``; ``owner`` is the enclosing
    top-level definition."""
    tree = ast.parse(path.read_text(), filename=str(path))
    docs = _docstrings(tree)
    found = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            args = getattr(node, "args", None)
            if isinstance(args, ast.arguments) and "validated" in [
                    a.arg for a in args.posonlyargs + args.args
                    + args.kwonlyargs]:
                found.append((path.name, owner, "validated parameter"))
            elif isinstance(node, ast.keyword) and node.arg == "validated":
                found.append((path.name, owner, "validated keyword"))
            elif isinstance(node, ast.Constant) \
                    and isinstance(node.value, str) \
                    and "PQ geometry" in node.value and id(node) not in docs:
                found.append((path.name, owner, "text"))
            elif isinstance(node, ast.Name) and node.id == "_DIM_ERROR" \
                    and isinstance(node.ctx, ast.Load):
                found.append((path.name, owner, "_DIM_ERROR"))
    return found


def test_one_embedding_guard():
    """No function takes a ``validated`` switch and no call passes one;
    the geometry error text is written once (``_DIM_ERROR``) and read
    only by the in-plan guard and its driver-side replay."""
    others = [*(ROOT / "scripts").glob("*.py"),
              *(ROOT / "tests").glob("*.py"), ROOT / "bench.py"]
    assert [f for path in others for f in _guard_uses(path)
            if f[2].startswith("validated")] == []
    found = sorted(f for path in PKG.rglob("*.py")
                   for f in _guard_uses(path))
    assert found == [
        ("similarity.py", "<module>", "text"),
        ("similarity.py", "_adc_lut_driver", "_DIM_ERROR"),
        ("similarity.py", "_guard_embedding_dim", "_DIM_ERROR"),
    ]
