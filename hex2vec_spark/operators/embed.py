"""Distributed cell-embedding trainer — the "2vec" in hex2vec.

Reference: src/models/combined.py:1-74 trains an encoder so that
k-ring context pairs score high (dot product + sigmoid) and excluded
negatives score low (binary skip-gram objective, cluster-word2vec.ipynb
cells 20-27), over the H3NeighborDataset this engine rebuilds as
``plans.pipeline.build_neighbor_dataset`` (input_h3, context_h3,
neg_h3s). No torch ships here, so the model is the classic SGNS
factorization (two V x dim matrices) trained with full-batch synchronous
gradient descent in the engine's own mapInPandas partial-aggregate shape
(operators/cluster.py:34-59 is the same pattern for KMeans):

  * weights are driver-side (V x dim x 2, float64) and broadcast per
    iteration — the vocabulary is the distinct-cell dimension, orders of
    magnitude smaller than the training pairs;
  * each partition computes its LOCAL gradient over its pairs
    (vectorized sigmoid/GEMM over index arrays) and emits only the
    SPARSE touched rows (word_idx, grad) — shuffle volume is
    O(touched_words x dim) per partition, never O(V x dim), and the
    pairs table itself never shuffles;
  * partials are combined CLUSTER-SIDE (round-3 fix; the round-2 code
    collected every partition's partials and summed on the driver —
    O(partitions x touched x dim) through one process): groupBy
    (matrix, word) + a JVM zip_with fold over the per-partition
    gradient list, sorted by partition id so float addition order is
    fixed -> the driver receives AT MOST 2V+1 summed rows per
    iteration regardless of partition count (asserted by
    tests/test_embed.py::test_driver_rows_bounded);
  * the driver applies one dense step from those <=2V+1 rows.

Full-batch GD is deterministic and embarrassingly data-parallel — the
right first trainer for a 10^12-row cluster job (hogwild-style async
SGD trades determinism for faster convergence; noted, not built).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # clipped for overflow-free exp; gradients saturate anyway
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30.0, 30.0)))


_M64 = (1 << 64) - 1


def _hash_init_row(seed: int, key: int, dim: int) -> np.ndarray:
    """Deterministic per-WORD-ID initial input-embedding row (round 4).

    Position-independent: the same (seed, word id) yields the same row
    no matter where the word lands in a vocabulary ordering — the
    property that lets the SHARDED trainer (weights as a DataFrame,
    initialized executor-side per row) start from bit-identical
    weights as the dense path under ``init='hash'``, so their loss
    trajectories can be compared directly (tests/test_embed.py)."""
    rng = np.random.default_rng([seed & _M64, 0x9E3779B9, key & _M64])
    return (rng.standard_normal(dim) / np.sqrt(dim)) * 0.1


def skipgram_fit(
    pairs: DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 1.0,
    seed: int = 13,
    input_col: str = "input_h3",
    context_col: str = "context_h3",
    negs_col: str = "neg_h3s",
    init: str = "position",
) -> tuple[np.ndarray, np.ndarray, list[float]]:
    """Train SGNS embeddings over a (input, context, negatives) table.

    Returns (vocab cell ids (V,), input embeddings (V, dim) float64,
    per-iteration mean losses). Negatives may be null/empty (rows then
    contribute only the positive term, like the reference's dataset
    rows whose exclusion ring ate all candidates).

    ``init='position'`` (default) draws the whole V x dim init from one
    seeded stream over the sorted vocabulary (the engine's historical
    behavior); ``init='hash'`` initializes each row from its WORD ID
    (:func:`_hash_init_row`) — position-independent, and bit-identical
    to :func:`skipgram_fit_sharded`'s executor-side init, which is how
    the dense and sharded paths are trajectory-compared.
    """
    spark = pairs.sparkSession
    # vocabulary = distinct cells on either side (dimension-sized)
    vocab_rows = (
        pairs.select(F.col(input_col).alias("h3"))
        .unionByName(pairs.select(F.col(context_col).alias("h3")))
        .unionByName(
            pairs.select(F.explode_outer(F.col(negs_col)).alias("h3")).where(
                F.col("h3").isNotNull()
            )
        )
        .distinct()
        .orderBy("h3")
        .collect()
    )
    vocab = np.array([r["h3"] for r in vocab_rows], dtype=np.int64)
    V = len(vocab)
    if V == 0:
        return vocab, np.zeros((0, dim)), []
    idx_of = {int(h): i for i, h in enumerate(vocab)}

    # index-encode once (broadcast map; narrow projection), cache the
    # tiny (t, c, negs) index table — it is scanned every iteration
    b_idx = spark.sparkContext.broadcast(idx_of)

    def to_idx(batches):
        m = b_idx.value
        for pdf in batches:
            # vectorized dict lookup (round-4: Series.map(dict) runs in
            # pandas' C path; the old per-row lambdas were the one
            # per-row-Python residue in the trainer). The ragged negs
            # lists flatten to one mapped Series and re-split by length.
            t = pdf[input_col].map(m).astype(np.int64)
            c = pdf[context_col].map(m).astype(np.int64)
            negs = pdf[negs_col]
            lens = negs.map(len, na_action="ignore").fillna(0).astype(np.int64).to_numpy()
            if lens.sum():
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in negs if x is not None]
                )
                mapped = pd.Series(flat).map(m).to_numpy()
                n = pd.Series(
                    [a.tolist() for a in np.split(mapped, np.cumsum(lens)[:-1])]
                )
            else:
                n = pd.Series([[] for _ in range(len(pdf))], dtype=object)
            yield pd.DataFrame({"t": t, "c": c, "n": n})

    data = pairs.mapInPandas(to_idx, "t long, c long, n array<long>")
    data = data.localCheckpoint(eager=True)  # scanned n_iter times

    if init == "hash":
        w_in = np.stack([_hash_init_row(seed, int(h), dim) for h in vocab])
    elif init == "position":
        rng = np.random.default_rng(seed)
        w_in = (rng.standard_normal((V, dim)) / np.sqrt(dim)) * 0.1
    else:
        raise ValueError(f"init must be position|hash, got {init!r}")
    w_out = np.zeros((V, dim))
    losses: list[float] = []
    n_rows = data.count()

    for _ in range(n_iter):
        b_w = spark.sparkContext.broadcast((w_in, w_out))

        def grad_part(batches):
            wi, wo = b_w.value
            gi: dict[int, np.ndarray] = {}
            go: dict[int, np.ndarray] = {}
            loss_sum = 0.0
            for pdf in batches:
                if not len(pdf):
                    continue
                t = pdf["t"].to_numpy()
                c = pdf["c"].to_numpy()
                ut, vc = wi[t], wo[c]
                s_pos = _sigmoid((ut * vc).sum(axis=1))
                loss_sum += float(-np.log(np.maximum(s_pos, 1e-12)).sum())
                coef = (s_pos - 1.0)[:, None]
                _acc(gi, t, coef * vc)
                _acc(go, c, coef * ut)
                # negatives: flatten the ragged lists
                lens = pdf["n"].map(len).to_numpy()
                if lens.sum():
                    nn = np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf["n"]])
                    tt = np.repeat(t, lens)
                    utn, vn = wi[tt], wo[nn]
                    s_neg = _sigmoid((utn * vn).sum(axis=1))
                    loss_sum += float(-np.log(np.maximum(1.0 - s_neg, 1e-12)).sum())
                    coef_n = s_neg[:, None]
                    _acc(gi, tt, coef_n * vn)
                    _acc(go, nn, coef_n * utn)
            rows = [
                {"m": 0, "i": int(k), "g": v.tolist()} for k, v in gi.items()
            ] + [{"m": 1, "i": int(k), "g": v.tolist()} for k, v in go.items()]
            rows.append({"m": 2, "i": 0, "g": [loss_sum] + [0.0] * (dim - 1)})
            yield pd.DataFrame(rows, columns=["m", "i", "g"])

        # cluster-side combine: tag each partial with its partition id,
        # group by (matrix, word), sort the per-key partial list by
        # partition id (array_sort on struct<p,g> orders by p first —
        # one partial per partition per key, so the order is total) and
        # fold with zip_with. Deterministic float addition order for a
        # fixed partitioning; the driver receives <= 2V+1 dense rows.
        gdf = _reduce_partials(
            data.mapInPandas(grad_part, "m int, i long, g array<double>"), dim
        )
        parts = gdf.collect()
        g_in = np.zeros_like(w_in)
        g_out = np.zeros_like(w_out)
        loss = 0.0
        for r in parts:
            if r["m"] == 0:
                g_in[r["i"]] = np.asarray(r["g"])
            elif r["m"] == 1:
                g_out[r["i"]] = np.asarray(r["g"])
            else:
                loss = r["g"][0]
        b_w.destroy()
        w_in -= (lr / n_rows) * g_in
        w_out -= (lr / n_rows) * g_out
        losses.append(loss / n_rows)
    return vocab, w_in, losses


def skipgram_fit_sharded(
    pairs: DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 1.0,
    seed: int = 13,
    input_col: str = "input_h3",
    context_col: str = "context_h3",
    negs_col: str = "neg_h3s",
    batch_fraction: float | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> tuple[DataFrame, list[float]]:
    """SGNS trainer with CLUSTER-RESIDENT weights (round-4 scale fix).

    :func:`skipgram_fit` keeps the V x dim weight matrices on the
    driver and broadcasts them per iteration — optimal while they fit
    one process (the reference's ~10^5-hex operating point) but a hard
    ceiling beyond it (a global res-9 corpus from a 10^12-image table
    is ~10^8 cells -> ~25 GB of weights on the driver and over the
    wire every iteration). This path removes the ceiling: weights live
    as a ``(m, key, vec)`` DataFrame (m=0 input matrix, m=1 output
    matrix, key = the raw cell id — no driver-side vocabulary index at
    all) and every step is expressed as joins:

      1. STATIC ``touch`` skeleton, built once and checkpointed:
         ``(rid, m, key, role)`` — one row per weight row a pair
         needs (role 0 = input word, 1 = context, 2 = negative).
         Hash-partitioned + sorted by (m, key) at rest so the
         per-iteration weights join reuses its layout.
      2. Per iteration: ``touch`` JOIN ``weights`` on (m, key) — only
         the V-sized weights side shuffles — then one pairs-scale
         groupBy(rid) reassembles each pair's vectors, a mapInPandas
         kernel emits sparse per-partition gradient rows, and
         :func:`_reduce_partials` combines them cluster-side exactly
         as the dense path does.
      3. The summed gradient (<= 2V rows) LEFT-JOINs back onto the
         weights DataFrame for the step — the driver only ever
         collects the 2-row loss/count aggregate.

    Honest cost statement: the ceiling is bought with ONE extra
    pairs-scale shuffle per iteration (the groupBy(rid) reassembly;
    the dense path's pairs table never shuffles). Use the dense path
    while V x dim fits comfortably in executor memory; switch here
    when it doesn't, and use ``batch_fraction`` (deterministic
    per-iteration xxhash64 row sampling — no extra scan, no join) so
    an iteration need not pay that shuffle over ALL pairs.

    Initialization is :func:`_hash_init_row` per (m=0) row — byte-equal
    to ``skipgram_fit(init='hash')``, so at small V the two paths
    produce the same loss trajectory to float-reduction-order
    tolerance (pinned by tests/test_embed.py::TestShardedSkipgram).

    ``checkpoint_dir``/``checkpoint_every``: see
    :class:`~hex2vec_spark.operators.ckpt.Checkpointer` — reliable
    fault-tolerant checkpoints every k-th lineage cut for multi-hour
    cluster runs; default is executor-local only.

    Returns ``(weights DataFrame (m, key, vec), per-iteration mean
    losses)``; :func:`sharded_embeddings` projects out the (h3,
    embedding) table.
    """
    from .ckpt import Checkpointer

    spark = pairs.sparkSession
    ckpt = Checkpointer(spark, checkpoint_dir, checkpoint_every)

    base = pairs.select(
        F.col(input_col).cast("long").alias("t"),
        F.col(context_col).cast("long").alias("c"),
        F.coalesce(
            F.col(negs_col).cast("array<long>"), F.array().cast("array<long>")
        ).alias("n"),
    ).withColumn("rid", F.monotonically_increasing_id())
    touch = base.select(
        "rid",
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.lit(0).alias("m"),
                        F.col("t").alias("key"),
                        F.lit(0).alias("role"),
                    ),
                    F.struct(
                        F.lit(1).alias("m"),
                        F.col("c").alias("key"),
                        F.lit(1).alias("role"),
                    ),
                ),
                F.transform(
                    "n",
                    lambda x: F.struct(
                        F.lit(1).alias("m"),
                        x.alias("key"),
                        F.lit(2).alias("role"),
                    ),
                ),
            )
        ).alias("w"),
    ).select("rid", "w.m", "w.key", "w.role")
    # at-rest layout: co-partition + sort on the join keys so each
    # iteration's weights join reuses it (checkpoint preserves output
    # partitioning/ordering); the pair table itself is scanned every
    # iteration — keep it durable when a reliable dir is available
    touch = ckpt.reliable(
        touch.repartition("m", "key").sortWithinPartitions("m", "key"), eager=True
    )
    n_rows = touch.where(F.col("role") == 0).count()
    if n_rows == 0:
        empty = spark.createDataFrame([], "m int, key long, vec array<double>")
        return empty, []

    wseed = int(seed)
    out_dim = dim

    def init_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = [
                _hash_init_row(wseed, int(k), out_dim).tolist()
                if m == 0
                else [0.0] * out_dim
                for m, k in zip(pdf["m"], pdf["key"])
            ]
            yield pd.DataFrame({"m": pdf["m"], "key": pdf["key"], "vec": vecs})

    # full vocabulary x both matrices, initialized EXECUTOR-SIDE — the
    # driver never materializes V rows, let alone V x dim floats
    vocab_df = touch.select("key").distinct()
    weights = (
        vocab_df.crossJoin(spark.range(2).select(F.col("id").cast("int").alias("m")))
        .repartition("m", "key")
        .mapInPandas(init_fn, "m int, key long, vec array<double>")
    )
    weights = ckpt.reliable(weights, eager=True)

    def grad_part(batches):
        gi: dict[int, np.ndarray] = {}
        go: dict[int, np.ndarray] = {}
        loss_sum = 0.0
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            u = np.stack(pdf["tu"].to_numpy())
            v = np.stack(pdf["cv"].to_numpy())
            tk = pdf["tk"].to_numpy().astype(np.int64)
            ck = pdf["ck"].to_numpy().astype(np.int64)
            cnt += len(pdf)
            s_pos = _sigmoid((u * v).sum(axis=1))
            loss_sum += float(-np.log(np.maximum(s_pos, 1e-12)).sum())
            coef = (s_pos - 1.0)[:, None]
            _acc(gi, tk, coef * v)
            _acc(go, ck, coef * u)
            lens = pdf["negs"].map(len).to_numpy()
            if lens.sum():
                flat = [w for lst in pdf["negs"] for w in lst]
                nk = np.array([w["key"] for w in flat], dtype=np.int64)
                vn = np.stack([np.asarray(w["vec"]) for w in flat])
                ridx = np.repeat(np.arange(len(pdf)), lens)
                utn = u[ridx]
                s_neg = _sigmoid((utn * vn).sum(axis=1))
                loss_sum += float(-np.log(np.maximum(1.0 - s_neg, 1e-12)).sum())
                coef_n = s_neg[:, None]
                _acc(gi, tk[ridx], coef_n * vn)
                _acc(go, nk, coef_n * utn)
        rows = [
            {"m": 0, "i": int(k), "g": v_.tolist()} for k, v_ in gi.items()
        ] + [{"m": 1, "i": int(k), "g": v_.tolist()} for k, v_ in go.items()]
        rows.append({"m": 2, "i": 0, "g": [loss_sum] + [0.0] * (out_dim - 1)})
        rows.append({"m": 3, "i": 0, "g": [float(cnt)] + [0.0] * (out_dim - 1)})
        yield pd.DataFrame(rows, columns=["m", "i", "g"])

    losses: list[float] = []
    for it in range(n_iter):
        touch_it = touch
        if batch_fraction is not None:
            # deterministic per-iteration row sample keyed on rid: the
            # SAME pairs are kept across all of a row's touch entries,
            # no join and no second scan to draw the batch
            touch_it = touch.where(
                F.pmod(
                    F.xxhash64(F.col("rid"), F.lit(int(seed)), F.lit(it)),
                    F.lit(1_000_000),
                )
                < F.lit(int(batch_fraction * 1_000_000))
            )
        j = touch_it.join(weights, ["m", "key"])
        asm = j.groupBy("rid").agg(
            F.max(F.when(F.col("role") == 0, F.col("key"))).alias("tk"),
            F.first(F.when(F.col("role") == 0, F.col("vec")), ignorenulls=True).alias("tu"),
            F.max(F.when(F.col("role") == 1, F.col("key"))).alias("ck"),
            F.first(F.when(F.col("role") == 1, F.col("vec")), ignorenulls=True).alias("cv"),
            F.collect_list(
                F.when(F.col("role") == 2, F.struct("key", "vec"))
            ).alias("negs"),
        )
        partials = asm.mapInPandas(grad_part, "m int, i long, g array<double>")
        summed = _reduce_partials(partials, dim).localCheckpoint(eager=True)
        meta = {r["m"]: r["g"] for r in summed.where(F.col("m") >= 2).collect()}
        n_eff = int(meta[3][0]) if batch_fraction is not None else n_rows
        n_eff = max(n_eff, 1)
        grads = summed.where(F.col("m") <= 1).select(
            "m", F.col("i").alias("key"), F.col("g").alias("_g")
        )
        step = float(lr / n_eff)
        weights = (
            weights.join(grads, ["m", "key"], "left")
            .select(
                "m",
                "key",
                F.when(F.col("_g").isNull(), F.col("vec"))
                .otherwise(
                    F.zip_with("vec", "_g", lambda u_, g_: u_ - F.lit(step) * g_)
                )
                .alias("vec"),
            )
        )
        weights = ckpt(weights, eager=True)
        losses.append(meta[2][0] / n_eff)
    return weights, losses


def sharded_embeddings(weights: DataFrame, h3_col: str = "h3") -> DataFrame:
    """Project a sharded trainer's weight table to (h3, embedding) —
    the input-matrix rows, the same table :func:`embeddings_table`
    builds from the dense path's arrays."""
    return weights.where(F.col("m") == 0).select(
        F.col("key").alias(h3_col), F.col("vec").alias("embedding")
    )


def _reduce_partials(partials: DataFrame, dim: int | None = None) -> DataFrame:
    """Cluster-side gradient combine: one summed row per (matrix, word).

    Input: (m, i, g) — at most one row per (m, i) per partition (the
    grad_part generator accumulates per-partition dicts). Output: one
    row per (m, i), g = element-wise sum of the partials in PARTITION-ID
    order (array_sort on struct<p, g> — p is distinct per key, so the
    order is total and float addition is deterministic for a fixed
    partitioning). The driver-facing row count is bounded by the number
    of distinct (m, i) keys independent of partition count
    (tests/test_embed.py bound test). ``dim`` pins the vector length;
    None derives it per key from the first partial (keys may then carry
    different lengths — the autoencoder's per-layer weight shapes).
    """
    zeros = (
        F.array_repeat(F.lit(0.0), dim)
        if dim is not None
        else F.array_repeat(F.lit(0.0), F.size(F.element_at("ps", 1)["g"]))
    )
    return (
        partials.withColumn("p", F.spark_partition_id())
        .groupBy("m", "i")
        .agg(F.array_sort(F.collect_list(F.struct("p", "g"))).alias("ps"))
        .select(
            "m", "i",
            F.aggregate(
                "ps",
                zeros,
                lambda acc, x: F.zip_with(acc, x["g"], lambda u, v: u + v),
            ).alias("g"),
        )
    )


def _acc(d: dict, idx: np.ndarray, grads: np.ndarray) -> None:
    """Sparse accumulate: sum gradient rows per word index."""
    uniq, inv = np.unique(idx, return_inverse=True)
    summed = np.zeros((len(uniq), grads.shape[1]))
    np.add.at(summed, inv, grads)
    for k, row in zip(uniq, summed):
        cur = d.get(int(k))
        if cur is None:
            d[int(k)] = row.copy()
        else:
            cur += row


def autoencoder_fit(
    feats: DataFrame,
    sizes: list[int],
    n_iter: int = 40,
    lr: float = 1e-3,
    seed: int = 17,
    id_col: str = "h3",
    vec_col: str = "features",
) -> tuple[DataFrame, list[float]]:
    """Distributed autoencoder embedder — the reference's SECOND
    embedding method (src/models/autoencoder.py:1-56: stacked
    Linear+ReLU encoder/decoder, MSE reconstruction, Adam(1e-3)),
    re-expressed in the engine's broadcast-weights + mapInPandas
    partial-gradient shape (same machinery as skipgram_fit/KMeans).

    ``sizes`` mirrors the reference ctor: [D, d] is the linear AE
    (single Linear each way — create_layers puts ReLU after every layer
    but the last, so a 1-layer coder is linear); [D, h, d] adds a ReLU
    hidden layer in both coder halves (decoder mirrored, reference
    autoencoder.py:21-27).

    Full-batch synchronous GD with driver-side Adam state: per
    iteration each partition emits per-layer DENSE gradients of the
    summed squared error over ITS rows; partials are combined
    cluster-side (_reduce_partials — driver receives one row per
    parameter tensor regardless of partition count) and the driver
    applies one Adam step on the (layers x D x h)-sized weights —
    vocabulary-scale, never fact-scale. Returns ((id, embedding)
    DataFrame via a final broadcast-encode pass, per-iter MSE losses).
    """
    spark = feats.sparkSession
    enc_sizes = list(zip(sizes[:-1], sizes[1:]))
    dec_sizes = [(o, i) for i, o in enc_sizes][::-1]
    rng = np.random.default_rng(seed)
    # Glorot-ish deterministic init; decoder mirrors encoder shapes
    weights: list[np.ndarray] = []
    biases: list[np.ndarray] = []
    for i, o in enc_sizes + dec_sizes:
        weights.append(rng.standard_normal((i, o)) / np.sqrt(i))
        biases.append(np.zeros(o))
    n_enc = len(enc_sizes)
    n_lay = len(weights)

    src = feats.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("x")
    ).localCheckpoint(eager=True)  # scanned n_iter+1 times
    n_rows = src.count()
    if n_rows == 0:
        return src.select("id", F.col("x").alias("embedding")), []
    denom = float(n_rows * sizes[0])  # MSE normalizer (mean over elements)

    def forward(X, ws, bs):
        acts = [X]
        h = X
        for li in range(n_lay):
            z = h @ ws[li] + bs[li]
            # ReLU after every layer except the last of each coder half
            if li != n_enc - 1 and li != n_lay - 1:
                z = np.maximum(z, 0.0)
            acts.append(z)
            h = z
        return acts

    adam_m = [np.zeros_like(w) for w in weights] + [np.zeros_like(b) for b in biases]
    adam_v = [np.zeros_like(w) for w in weights] + [np.zeros_like(b) for b in biases]
    b1, b2, eps = 0.9, 0.999, 1e-8
    losses: list[float] = []
    for it in range(n_iter):
        bw = spark.sparkContext.broadcast((weights, biases))

        def grad_part(batches):
            ws, bs = bw.value
            gw = [np.zeros_like(w) for w in ws]
            gb = [np.zeros_like(b) for b in bs]
            sse = 0.0
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["x"].to_numpy())
                acts = forward(X, ws, bs)
                xhat = acts[-1]
                diff = xhat - X
                sse += float((diff * diff).sum())
                delta = 2.0 * diff  # d(sse)/d(xhat)
                for li in range(n_lay - 1, -1, -1):
                    if li != n_enc - 1 and li != n_lay - 1:
                        delta = delta * (acts[li + 1] > 0.0)
                    gw[li] += acts[li].T @ delta
                    gb[li] += delta.sum(axis=0)
                    if li:
                        delta = delta @ ws[li].T
            rows = []
            for li in range(n_lay):
                rows.append({"m": li, "i": 0, "g": gw[li].ravel().tolist()})
                rows.append({"m": n_lay + li, "i": 0, "g": gb[li].tolist()})
            rows.append({"m": 2 * n_lay, "i": 0, "g": [sse]})
            yield pd.DataFrame(rows, columns=["m", "i", "g"])

        parts = _reduce_partials(
            src.mapInPandas(grad_part, "m int, i long, g array<double>")
        ).collect()
        grads: dict[int, np.ndarray] = {r["m"]: np.asarray(r["g"]) for r in parts}
        losses.append(grads[2 * n_lay][0] / denom)
        t = it + 1
        for li in range(n_lay):
            for slot, param, g in (
                (li, weights[li], grads[li].reshape(weights[li].shape) / denom),
                (n_lay + li, biases[li], grads[n_lay + li] / denom),
            ):
                adam_m[slot] = b1 * adam_m[slot] + (1 - b1) * g
                adam_v[slot] = b2 * adam_v[slot] + (1 - b2) * g * g
                mh = adam_m[slot] / (1 - b1 ** t)
                vh = adam_v[slot] / (1 - b2 ** t)
                param -= lr * mh / (np.sqrt(vh) + eps)
        bw.destroy()

    bw_f = spark.sparkContext.broadcast((weights[:n_enc], biases[:n_enc]))

    def encode_part(batches):
        ws, bs = bw_f.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["x"].to_numpy())
            h = X
            for li in range(n_enc):
                h = h @ ws[li] + bs[li]
                if li != n_enc - 1:
                    h = np.maximum(h, 0.0)
            yield pd.DataFrame({"id": pdf["id"], "embedding": [r.tolist() for r in h]})

    emb = src.mapInPandas(encode_part, f"id {src.schema['id'].dataType.simpleString()}, embedding array<double>")
    return emb, losses


def _stack_fwd(X: np.ndarray, ws: list, bs: list) -> list:
    """Forward through a Linear(+ReLU after all but the last layer)
    stack — the reference's create_layers shape (combined.py:11-19,
    autoencoder.py:13-19). Returns the activation list [X, a1, ...]."""
    acts = [X]
    h = X
    for li in range(len(ws)):
        z = h @ ws[li] + bs[li]
        if li != len(ws) - 1:
            z = np.maximum(z, 0.0)
        acts.append(z)
        h = z
    return acts


def _stack_bwd(delta: np.ndarray, acts: list, ws: list, gw: list, gb: list) -> np.ndarray:
    """Backprop dL/d(stack output) through the stack; accumulates
    parameter grads into gw/gb and returns dL/d(stack input)."""
    for li in range(len(ws) - 1, -1, -1):
        if li != len(ws) - 1:
            delta = delta * (acts[li + 1] > 0.0)
        gw[li] += acts[li].T @ delta
        gb[li] += delta.sum(axis=0)
        delta = delta @ ws[li].T
    return delta


def combined_fit(
    triples: DataFrame,
    encoder_sizes: list[int],
    n_iter: int = 30,
    lr: float = 1e-3,
    seed: int = 23,
    xt_col: str = "xt",
    xc_col: str = "xc",
    xn_col: str = "xn",
    recon: bool = True,
) -> tuple[dict, list[dict]]:
    """The reference's HEADLINE model — Combined (src/models/
    combined.py:7-74): a shared MLP encoder over per-hex FEATURE
    VECTORS trained with the skip-gram contrastive objective
    (dot-product scores, BCE-with-logits on positive/negative pairs)
    PLUS a mirrored decoder with MSE reconstruction;
    loss = (BCE_pos + BCE_neg)/2 + (MSE_t + MSE_c + MSE_n)/3,
    Adam(1e-3). ``recon=False`` drops the decoder and reconstruction
    term entirely — exactly BinaryNN (binary_nn.py:10-30), the
    reference's third model.

    Input: triples (xt, xc, xn) of feature vectors — xt/xc the
    neighbor pair, xn a sampled negative (nullable: rows whose
    exclusion ring ate all candidates contribute only the positive and
    reconstruction terms, mirroring H3NeighborDataset's behavior).

    Distribution shape: identical to skipgram_fit/autoencoder_fit —
    weights broadcast per iteration, per-partition dense parameter
    grads via mapInPandas over the three shared-encoder streams,
    cluster-side combine (_reduce_partials: one driver row per
    parameter tensor), driver-side deterministic Adam. The triple
    table never shuffles.

    Returns (model dict {enc_w, enc_b, dec_w, dec_b, sizes}, per-iter
    loss dicts {loss, pred, recon}). Encode any features table with
    :func:`encode_features`.
    """
    spark = triples.sparkSession
    enc_shapes = list(zip(encoder_sizes[:-1], encoder_sizes[1:]))
    dec_shapes = [(o, i) for i, o in enc_shapes][::-1] if recon else []
    rng = np.random.default_rng(seed)
    ew = [rng.standard_normal((i, o)) / np.sqrt(i) for i, o in enc_shapes]
    eb = [np.zeros(o) for _, o in enc_shapes]
    dw = [rng.standard_normal((i, o)) / np.sqrt(i) for i, o in dec_shapes]
    db = [np.zeros(o) for _, o in dec_shapes]
    Le, Ld = len(ew), len(dw)
    D = encoder_sizes[0]

    src = triples.select(
        F.col(xt_col).cast("array<double>").alias("xt"),
        F.col(xc_col).cast("array<double>").alias("xc"),
        F.col(xn_col).cast("array<double>").alias("xn"),
    ).localCheckpoint(eager=True)  # scanned n_iter times
    n_pos = src.count()
    n_neg = src.where(F.col("xn").isNotNull()).count()
    if n_pos == 0:
        return {"enc_w": ew, "enc_b": eb, "dec_w": dw, "dec_b": db,
                "sizes": encoder_sizes}, []

    # m-slot layout for _reduce_partials: enc W | enc b | dec W | dec b | loss
    params = [*ew, *eb, *dw, *db]
    adam_m = [np.zeros_like(p) for p in params]
    adam_v = [np.zeros_like(p) for p in params]
    b1, b2, eps = 0.9, 0.999, 1e-8
    losses: list[dict] = []
    LOSS_M = 2 * (Le + Ld)
    for it in range(n_iter):
        bw = spark.sparkContext.broadcast((ew, eb, dw, db))

        def grad_part(batches):
            # accumulators derive from the BROADCAST weights — capturing
            # the driver-side arrays in this closure would ship them a
            # second time with every task
            ews, ebs, dws, dbs = bw.value
            gew = [np.zeros_like(w) for w in ews]
            geb = [np.zeros_like(b) for b in ebs]
            gdw = [np.zeros_like(w) for w in dws]
            gdb = [np.zeros_like(b) for b in dbs]
            bce_pos = bce_neg = sse_t = sse_c = sse_n = 0.0
            for pdf in batches:
                if not len(pdf):
                    continue
                Xt = np.stack(pdf["xt"].to_numpy())
                Xc = np.stack(pdf["xc"].to_numpy())
                has_n = pdf["xn"].notna().to_numpy()
                at = _stack_fwd(Xt, ews, ebs)
                ac = _stack_fwd(Xc, ews, ebs)
                zt, zc = at[-1], ac[-1]
                s_pos = (zt * zc).sum(axis=1)
                sp = _sigmoid(s_pos)
                bce_pos += float(-np.log(np.maximum(sp, 1e-12)).sum())
                # d(sum BCE_pos)/ds scaled by the GLOBAL mean factors
                g_spos = (sp - 1.0) / (2.0 * n_pos)
                # decoder/reconstruction paths (sum-of-squares form,
                # scaled to torch mse_loss mean-over-elements); skipped
                # wholesale in BinaryNN mode
                if dws:
                    ht = _stack_fwd(zt, dws, dbs)
                    hc = _stack_fwd(zc, dws, dbs)
                    dt = ht[-1] - Xt
                    dc = hc[-1] - Xc
                    sse_t += float((dt * dt).sum())
                    sse_c += float((dc * dc).sum())
                    d_zt = _stack_bwd(2.0 * dt / (3.0 * n_pos * D), ht, dws, gdw, gdb)
                    d_zc = _stack_bwd(2.0 * dc / (3.0 * n_pos * D), hc, dws, gdw, gdb)
                else:
                    d_zt = np.zeros_like(zt)
                    d_zc = np.zeros_like(zc)
                d_zt = d_zt + g_spos[:, None] * zc
                d_zc = d_zc + g_spos[:, None] * zt
                if has_n.any():
                    Xn = np.stack(pdf["xn"][has_n].to_numpy())
                    an = _stack_fwd(Xn, ews, ebs)
                    zn = an[-1]
                    s_neg = (zt[has_n] * zn).sum(axis=1)
                    sn = _sigmoid(s_neg)
                    bce_neg += float(-np.log(np.maximum(1.0 - sn, 1e-12)).sum())
                    g_sneg = sn / (2.0 * max(n_neg, 1))
                    if dws:
                        hn = _stack_fwd(zn, dws, dbs)
                        dn = hn[-1] - Xn
                        sse_n += float((dn * dn).sum())
                        d_zn = _stack_bwd(
                            2.0 * dn / (3.0 * max(n_neg, 1) * D), hn, dws, gdw, gdb
                        )
                    else:
                        d_zn = np.zeros_like(zn)
                    d_zn = d_zn + g_sneg[:, None] * zt[has_n]
                    d_zt[has_n] += g_sneg[:, None] * zn
                    _stack_bwd(d_zn, an, ews, gew, geb)
                _stack_bwd(d_zt, at, ews, gew, geb)
                _stack_bwd(d_zc, ac, ews, gew, geb)
            rows = []
            for li in range(Le):
                rows.append({"m": li, "i": 0, "g": gew[li].ravel().tolist()})
                rows.append({"m": Le + li, "i": 0, "g": geb[li].tolist()})
            for li in range(Ld):
                rows.append({"m": 2 * Le + li, "i": 0, "g": gdw[li].ravel().tolist()})
                rows.append({"m": 2 * Le + Ld + li, "i": 0, "g": gdb[li].tolist()})
            rows.append({"m": LOSS_M, "i": 0,
                         "g": [bce_pos, bce_neg, sse_t, sse_c, sse_n]})
            yield pd.DataFrame(rows, columns=["m", "i", "g"])

        parts = _reduce_partials(
            src.mapInPandas(grad_part, "m int, i long, g array<double>")
        ).collect()
        grads = {r["m"]: np.asarray(r["g"]) for r in parts}
        lv = grads[LOSS_M]
        pred = lv[0] / n_pos / 2.0 + (lv[1] / max(n_neg, 1) / 2.0 if n_neg else 0.0)
        rec = (
            (lv[2] + lv[3]) / (3.0 * n_pos * D)
            + (lv[4] / (3.0 * n_neg * D) if n_neg else 0.0)
        ) if Ld else 0.0
        losses.append({"loss": pred + rec, "pred": pred, "recon": rec})
        t = it + 1
        # match the params/adam slot ORDER (ew*, eb*, dw*, db*)
        ordered = (
            [(ew[li], grads[li].reshape(ew[li].shape)) for li in range(Le)]
            + [(eb[li], grads[Le + li]) for li in range(Le)]
            + [(dw[li], grads[2 * Le + li].reshape(dw[li].shape)) for li in range(Ld)]
            + [(db[li], grads[2 * Le + Ld + li]) for li in range(Ld)]
        )
        for slot, (param, g) in enumerate(ordered):
            adam_m[slot] = b1 * adam_m[slot] + (1 - b1) * g
            adam_v[slot] = b2 * adam_v[slot] + (1 - b2) * g * g
            mh = adam_m[slot] / (1 - b1 ** t)
            vh = adam_v[slot] / (1 - b2 ** t)
            param -= lr * mh / (np.sqrt(vh) + eps)
        bw.destroy()
    return {"enc_w": ew, "enc_b": eb, "dec_w": dw, "dec_b": db,
            "sizes": encoder_sizes}, losses


def encode_features(
    feats: DataFrame,
    model: dict,
    id_col: str = "h3",
    vec_col: str = "features",
) -> DataFrame:
    """Encode a features table through a trained Combined/BinaryNN
    encoder (broadcast weights, one mapInPandas pass) -> (id,
    embedding)."""
    spark = feats.sparkSession
    bw = spark.sparkContext.broadcast((model["enc_w"], model["enc_b"]))
    src = feats.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("x")
    )

    def enc_part(batches):
        ws, bs = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            h = _stack_fwd(np.stack(pdf["x"].to_numpy()), ws, bs)[-1]
            yield pd.DataFrame({"id": pdf["id"], "embedding": [r.tolist() for r in h]})

    return src.mapInPandas(
        enc_part, f"id {src.schema['id'].dataType.simpleString()}, embedding array<double>"
    )


def embeddings_table(
    spark: SparkSession, vocab: np.ndarray, w: np.ndarray, h3_col: str = "h3"
) -> DataFrame:
    """Materialize trained embeddings as a (h3, embedding) DataFrame —
    the table every downstream reference query (kNN probes, KMeans,
    interpolation) consumes (cluster-word2vec.ipynb cells 28+)."""
    pdf = pd.DataFrame(
        {h3_col: vocab.astype(np.int64), "embedding": [r.tolist() for r in np.asarray(w, dtype=np.float64)]}
    )
    return spark.createDataFrame(pdf)
