"""Trained-codebook PQ / IVFADC arithmetic and the persisted index.

Reference status: extension surface (the reference script,
``01_source_me.R:1-346``, has no vector-index stage).

This module is the ONE home of the PQ arithmetic under the committed
codebook (``functions/pq_codebook.py``). The per-query registry rows
(``ann_pq_trained_*``, ``ann_ivfadc_*``, ``pq_index_*`` in
queries/pipeline.py) and :class:`PqIvfIndexState` call the same
functions, so the persisted codes and the served answers come from
the kernels the DuckDB oracles check:

- :func:`query_lut` — the query's ADC lookup table, one left-deep
  squared-L2 fold per (subspace, centroid), the oracle's
  ``list_transform`` order;
- :func:`subspace_codes` — the numpy encode: per-subspace first-min
  argmin of left-deep squared L2 (= ``list_indexof(list_min)``);
- :func:`spherical_cell_rank` — the query's cell ranking by the
  exact-integer spherical score, the assignment's own arithmetic;
- :func:`adc_top` + :func:`exact_rerank` — the shortlist cut by
  (ADC, id) and its exact cosine re-rank against a 1-row query
  frame (``cosine_pair``, the form ``_sql_cosine`` replays).

The index closes the maintenance gap the per-query rows leave open:
at 100 TB the index must be a PERSISTED artifact that new vectors
join at O(batch) cost, not a per-query rebuild. Design (the FAISS
IndexIVFPQ ``add`` path, Jegou/Douze/Schmid 2011, public):

- The cell model (integer Lloyd centroid sums from
  ``operators/similarity.py::kmeans_cells_exact``) and the committed
  PQ codebook are FROZEN training artifacts — encoding is a pure
  per-vector function of them, so ingesting a corpus in any batch
  partitioning yields byte-identical index rows (the
  union-of-batches invariant, pinned in tests/test_ann_index.py).
- :meth:`PqIvfIndexState.ingest` encodes ONLY the batch
  (:func:`pq_encode_codes`, one Arrow mapInPandas kernel) and
  appends it to a snapshot-versioned table
  (sources/versioned.py::VersionedTable) Hive-partitioned on
  ``cell``: zero shuffles, zero history reads.
- :meth:`PqIvfIndexState.query` is the IVFADC search over the
  PERSISTED codes: rank cells driver-side (k bounded rows), read
  ONLY the probed ``cell=<id>`` subdirectories
  (``VersionedTable.read_partitions`` — an explicit leaf-path scan,
  no partition discovery, no Exchange), score the 16-byte codes with
  the query's LUT (pure column arithmetic), exact-re-rank the ADC
  shortlist against the base vectors. At scale the probe reads
  nprobe/k of the index files — partition pruning IS the coarse
  quantizer.

The streaming mirror is ``streaming/ops.py::pq_index_sink``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pq_codebook import CODEBOOK, PQ_M, PQ_SUB
from .similarity import cosine_pair

CODES_SCHEMA = "id long, cell int, codes array<int>"

#: the committed codebook as a (PQ_M, K, PQ_SUB) array — exact
#: doubles of its decimal literals
_CODEBOOK_ARRAY = np.array(CODEBOOK, dtype=np.float64)


def query_lut(q, codebook=CODEBOOK) -> list[list[float]]:
    """ADC lookup table: ``lut[j][c]`` = squared L2 from the query's
    subspace-j slice to centroid c of subspace j, folded left-deep in
    Python floats — the operand order of the oracle's
    ``list_transform`` lambda, so every entry is bit-identical across
    engines. ``codebook[j][c]`` is a centroid of subspace j; subspaces
    tile the query in order."""
    q = [float(x) for x in q]
    luts = []
    off = 0
    for cents in codebook:
        row = []
        for cvec in cents:
            acc = None
            for i, c in enumerate(cvec):
                t = q[off + i] - c
                acc = t * t if acc is None else acc + t * t
            row.append(acc)
        luts.append(row)
        off += len(cents[0])
    return luts


def subspace_codes(X):
    """(n, PQ_M) 0-based PQ codes of the float64 rows ``X``: per
    subspace, the first-min argmin (= the oracle's
    ``list_indexof(list_min)`` tie-break, shifted to 0-based) of
    squared L2 against the committed codebook. The squared L2
    accumulates left-deep over the subspace dims, elementwise over the
    batch — the oracle's SQL fold order, so the doubles are identical
    (a ``.sum(axis=2)`` happens to be sequential at SUB=4 but flips to
    pairwise blocking on larger widths, which would move last bits
    and could flip an argmin near-tie cross-engine)."""
    C = _CODEBOOK_ARRAY
    codes = np.empty((len(X), PQ_M), dtype=np.int64)
    for j in range(PQ_M):
        acc = None
        for k in range(PQ_SUB):
            t = X[:, j * PQ_SUB + k, None] - C[j, None, :, k]
            tt = t * t
            acc = tt if acc is None else acc + tt
        codes[:, j] = acc.argmin(axis=1)
    return codes


def spherical_cell_rank(qvec, cell_sums, scale: float = 1024.0) -> list[int]:
    """1-based cell ids by spherical score dot(quantized q, S_c)/|S_c|
    desc, ties to the lowest id — the assignment's own score, folded
    left-deep over k bounded driver-side rows. Every operand is an
    exact integer in double, so this replicates the oracle's ranked
    assignment CTE bit-for-bit."""
    qq = [math.floor(float(x) * scale + 0.5) for x in qvec]
    scored = []
    for ci, svec in enumerate(cell_sums):
        num = None
        for qi, si in zip(qq, svec):
            t = float(qi) * float(si)
            num = t if num is None else num + t
        den = None
        for si in svec:
            fs = float(si)
            p = fs * fs
            den = p if den is None else den + p
        scored.append((num / math.sqrt(den), ci))
    return [ci + 1 for _, ci in sorted(scored, key=lambda sc: (-sc[0], sc[1]))]


def adc_top(scored: DataFrame, n: int, id_col: str = "vec_id") -> DataFrame:
    """The ``n`` best rows of an ADC-scored frame by (``__adc`` asc,
    id asc) — raw-double order with id ties, so the cut is
    engine-exact. One TakeOrderedAndProject, no shuffle."""
    return scored.orderBy(F.col("__adc").asc(), F.col(id_col).asc()).limit(n)


def exact_rerank(
    short: DataFrame,
    qdf: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(``id_col``, ``__cos``): the exact cosine top-``k`` of the
    vectors in ``short`` against the 1-row query frame ``qdf`` (column
    ``qv``), by (``__cos`` desc, id asc). ``cosine_pair``'s left-deep
    folds are the arithmetic the oracle's ``_sql_cosine`` replays, so
    the cut is engine-exact."""
    return (
        short.crossJoin(F.broadcast(qdf))
        .select(id_col, cosine_pair(vec_col, "qv", PQ_M * PQ_SUB).alias("__cos"))
        .orderBy(F.col("__cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_encode_codes(
    df: DataFrame,
    cell_sums,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1024.0,
) -> DataFrame:
    """(id, cell, codes) — the IVFADC ``add``-path encode as one
    map-only Arrow kernel, no shuffle. Cell assignment: argmax of
    dot(quantized(v), S_c)/|S_c| over the frozen integer Lloyd state
    (every operand an exact integer in double — numpy's GEMM and the
    expression fold agree bit-for-bit, the kmeans_cells_exact
    argument); ties to the lowest cell via first-max. Codes:
    :func:`subspace_codes`, the same kernel the per-query ADC rows
    score with, so persisted codes equal theirs."""
    S = np.array(
        [[int(x) for x in v] for v in cell_sums], dtype=np.float64
    )
    norms = np.sqrt((S * S).sum(axis=1))
    scale = float(scale)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            Q = np.floor(X * scale + 0.5)
            cells = ((Q @ S.T) / norms).argmax(axis=1) + 1
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "cell": cells.astype("int32"),
                    "codes": list(subspace_codes(X)),
                }
            )

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(kernel, schema=CODES_SCHEMA)


class PqIvfIndexState:
    """Persisted IVFADC index over a VersionedTable, cell-partitioned.

    ``cell_sums`` is the frozen integer Lloyd state (k lists of dim
    ints — ``kmeans_cells_exact(..., return_state=True)``'s second
    return). ``scale`` must match the quantization the cells were
    trained at.
    """

    def __init__(self, spark, root: str, cell_sums, *, scale: float = 1024.0):
        from ..sources.versioned import VersionedTable

        self.spark = spark
        self.table = VersionedTable(spark, root)
        self.cell_sums = [[int(x) for x in v] for v in cell_sums]
        self.scale = float(scale)

    # ------------------------------------------------------------ ingest

    def ingest(
        self,
        df: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        props: dict | None = None,
    ) -> int:
        """Encode the batch and append it cell-partitioned; returns
        the new version — or the CURRENT head (possibly None) for an
        empty batch, which commits nothing (an empty partitioned
        write has no files for the commit's schema read-back, and an
        empty version would be pure manifest noise; same guard as
        the streaming sink). O(batch) compute, zero shuffle (the
        partitioned write splits by column value, not by Exchange),
        zero history reads. Ids must be unique across batches."""
        if df.limit(1).count() == 0:
            return self.table.head()
        return self.table.commit(
            pq_encode_codes(
                df, self.cell_sums, id_col=id_col, vec_col=vec_col, scale=self.scale
            ),
            operation="pq-ivf-ingest",
            partition_by=["cell"],
            props=props,
        )

    # ------------------------------------------------------------ delete

    def remove_ids(
        self,
        ids,
        *,
        vectors: DataFrame | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        props: dict | None = None,
    ) -> int:
        """Delete vectors from the persisted index — the FAISS
        ``remove_ids`` analog (r13 verdict ask #5). Returns the new
        version (or the current head when nothing matched).

        Shuffle/IO budget is O(touched cells), never a full rewrite:
        the touched ``cell=`` leaves are re-read (explicit leaf-path
        scans), survivors anti-joined against the broadcast id set
        (no Exchange), and the table's
        :meth:`~..sources.versioned.VersionedTable.replace_partitions`
        swaps exactly those leaves — every untouched cell's files are
        carried forward verbatim and ``cell=`` pruning (the coarse
        quantizer) is preserved, pinned in tests/test_ann_index.py.

        Locating the touched cells costs one of two shapes:
        ``vectors`` given (the deleted vectors are at hand, e.g. a
        GDPR erasure batch with payloads) → re-encode the batch
        (encoding is a pure function of the frozen artifacts), O(batch)
        with zero index reads; otherwise → an id→cell lookup over the
        index's own ``id`` column (columnar projection; the 16-byte
        codes are never read), O(index ids). Ids absent from the
        index are ignored either way, so delete is idempotent."""
        if not isinstance(ids, DataFrame):
            ids = self.spark.createDataFrame(
                [(int(i),) for i in ids], "id bigint"
            )
        id_df = ids.select(F.col(ids.columns[0]).alias("__del")).distinct()
        head = self.table.head()
        if head is None:
            return head
        if vectors is not None:
            located = (
                pq_encode_codes(
                    vectors,
                    self.cell_sums,
                    id_col=id_col,
                    vec_col=vec_col,
                    scale=self.scale,
                ).join(
                    F.broadcast(id_df),
                    F.col("id") == F.col("__del"),
                    "leftsemi",
                )
            )
        else:
            located = self.table.read().join(
                F.broadcast(id_df),
                F.col("id") == F.col("__del"),
                "leftsemi",
            )
        touched = sorted(
            r["cell"] for r in located.select("cell").distinct().collect()
        )
        if not touched:
            return head
        survivors = None
        for c in touched:
            surv = (
                self.table.read_partitions("cell", [c])
                .join(
                    F.broadcast(id_df),
                    F.col("id") == F.col("__del"),
                    "left_anti",
                )
                .withColumn("cell", F.lit(int(c)).cast("int"))
            )
            survivors = (
                surv if survivors is None else survivors.unionByName(surv)
            )
        return self.table.replace_partitions(
            "cell",
            touched,
            survivors,
            operation="pq-ivf-remove-ids",
            props=props,
        )

    # ----------------------------------------------------------- rebuild

    def rebuild(
        self,
        vectors: DataFrame,
        cell_sums=None,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        props: dict | None = None,
    ) -> int:
        """Re-encode ``vectors`` from scratch into a new OVERWRITE
        version — the drift-policy remediation step (SCALING
        §index-maintenance): when the newest batch's cell-occupancy
        share passes the retrain threshold, train new cells (and/or a
        new codebook) and rebuild, optionally swapping ``cell_sums``
        in place for all future ingests/queries on this handle. One
        encode-kernel scan + one cell-partitioned write (the
        pq_index_build_cells dataflow); history before the rebuild
        still time-travels until vacuum. Raises on an empty corpus —
        an empty index is a deployment error, not a state."""
        if cell_sums is not None:
            self.cell_sums = [[int(x) for x in v] for v in cell_sums]
        if vectors.limit(1).count() == 0:
            raise ValueError("rebuild needs a non-empty vector corpus")
        return self.table.commit(
            pq_encode_codes(
                vectors,
                self.cell_sums,
                id_col=id_col,
                vec_col=vec_col,
                scale=self.scale,
            ),
            mode="overwrite",
            operation="pq-ivf-rebuild",
            partition_by=["cell"],
            props=props,
        )

    # ------------------------------------------------------------- query

    def rank_cells(self, qvec) -> list[int]:
        """1-based cell ids by spherical score desc, ties to lowest id
        (:func:`spherical_cell_rank` over this handle's cells)."""
        return spherical_cell_rank(qvec, self.cell_sums, self.scale)

    def adc_shortlist(
        self, qvec, *, nprobe: int = 4, rerank: int = 50
    ) -> DataFrame:
        """(id, __adc): the probe half of the IVFADC search over the
        PERSISTED codes — rank cells driver-side, read ONLY the
        probed ``cell=`` subdirectories (explicit leaf-path scan, no
        partition discovery, no Exchange), ADC-score the 16-byte
        codes against :func:`query_lut` as plain column arithmetic
        (left-deep j = 0..M-1, the encode/oracle fold order), keep
        the ``rerank`` best by (__adc asc, id asc)."""
        codes = self.table.read_partitions("cell", self.rank_cells(qvec)[:nprobe])
        adc = None
        for j, lut in enumerate(query_lut(qvec)):
            arr = F.array(*[F.lit(v) for v in lut])
            term = F.element_at(arr, F.col("codes")[j] + 1)
            adc = term if adc is None else adc + term
        return adc_top(codes.select("id", adc.alias("__adc")), rerank, "id")

    def query(
        self,
        qvec,
        base: DataFrame,
        *,
        nprobe: int = 4,
        rerank: int = 50,
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """IVFADC search over the persisted codes: :meth:`adc_shortlist`
        (reading ONLY the probed ``cell=`` subdirectories), then
        :func:`exact_rerank` of the top-``rerank`` against their
        vectors in ``base`` (the vector table — codes never round-trip
        through it; the 50-row shortlist joins in as a broadcast).
        Returns (id, cosine) top-``k``. The ``pq_index_query_topk``
        registry row serves through this method, so it is
        differential-gated."""
        short = self.adc_shortlist(qvec, nprobe=nprobe, rerank=rerank)
        qdf = self.spark.createDataFrame(
            [([float(x) for x in qvec],)], "qv array<double>"
        )
        return exact_rerank(
            base.join(F.broadcast(short), base[id_col] == short["id"]),
            qdf,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
        ).withColumnRenamed("__cos", "cosine")
