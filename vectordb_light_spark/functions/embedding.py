"""The embedding stage (SURVEY §2.4 E1-E10): text → L2-normalized
float32 vectors via ``mapInPandas``.

Reference pipeline: tokenize in batches (E1), sort by token length so
padded batches are near-rectangular (E2, reference
stage_tokenize.py:103-104), pad (E3), forward pass + L2-normalize (E5,
embedding_models.py:373-475, normalize at :437), scatter back (E6).
In Spark the whole thing is ONE ``mapInPandas`` stage: Arrow batches
in, the encoder loaded once per executor (not per batch), vectors out.
E2's length-sort becomes ``sortWithinPartitions(length(text))`` before
the stage — batches inside a partition then have near-uniform lengths;
E6's un-sort is unnecessary because rows carry their ids (Spark rows
are unordered between stages anyway).

Two encoders behind one interface:

  HashingEmbedder — deterministic feature-hashing projection
    (hash each token to a bucket ± sign, L2-normalize). No model
    download, identical on every executor and every run: the test
    double SURVEY §5.3 calls for. Also genuinely useful at scale as a
    cheap locality-ish signature.

  SentenceTransformerEmbedder — real model encode, import-gated
    (sentence-transformers is not in this container). Family
    instruction prompts for queries (E7, reference
    embedding_models.py:49-63) and the reference's L2-normalize
    invariant (embedding_models.py:437) are applied here.

The write-path invariant both guarantee: every stored vector is
L2-normalized float32, so cosine ≡ dot product on the read path.
"""

from __future__ import annotations

import hashlib
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_light_spark.session import quote_ident, rebalance, sql_over

DEFAULT_DIM = 64

#: Target size of one tile's ``[rows, heads, max_seq, max_seq]``
#: attention-score buffer: small enough to stay in a core's cache while
#: the softmax passes over it.
_TILE_BYTES = 2 << 20

#: (dim, seed) → {token: (bucket, sign)} — per-process memo for the
#: hashing encoder (vocabulary-bounded).
_TOKEN_MEMO: dict[tuple[int, int], dict[str, tuple[int, float]]] = {}


# ---------------------------------------------------------------------------
# Encoders
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class HashingEmbedder:
    """Deterministic bag-of-tokens feature hashing → unit vector.

    encode() is pure: blake2b(token) picks (bucket, sign); counts
    accumulate; the result is L2-normalized float32. Similar token
    multisets ⇒ high cosine, disjoint ⇒ ~orthogonal — enough structure
    for meaningful top-k tests without any model asset.
    """

    dim: int = DEFAULT_DIM
    seed: int = 0

    @property
    def spec(self) -> dict:
        return {"encoder": "hashing", "dim": self.dim, "seed": self.seed}

    def encode(self, texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        salt = str(self.seed).encode()
        # Token hashes memoized per (dim, seed): corpus vocabulary is
        # vastly smaller than token count, so the blake2b runs once
        # per distinct token per process instead of once per
        # occurrence (~10× on natural text).
        memo = _TOKEN_MEMO.setdefault((self.dim, self.seed), {})
        for i, text in enumerate(texts):
            for tok in (text or "").lower().split():
                hit = memo.get(tok)
                if hit is None:
                    h = int.from_bytes(
                        hashlib.blake2b(
                            tok.encode(), digest_size=8, salt=salt
                        ).digest(),
                        "big",
                    )
                    hit = (h % self.dim, 1.0 if (h >> 62) & 1 else -1.0)
                    memo[tok] = hit
                out[i, hit[0]] += hit[1]
        norms = np.linalg.norm(out, axis=1, keepdims=True)
        np.maximum(norms, 1e-12, out=norms)
        return (out / norms).astype(np.float32)


# ---------------------------------------------------------------------------
# Mini-transformer encoder — the REAL inference path, executable here
# ---------------------------------------------------------------------------


def _layer_norm(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    """LayerNorm over the last axis in ``x``'s dtype. Both means are
    matrix-vector products with a ``1/D`` vector: BLAS runs them ~3x
    faster than numpy's last-axis reductions over 64 values."""
    avg = np.full(x.shape[-1], 1.0 / x.shape[-1], x.dtype)
    y = x - (x @ avg)[..., None]
    sd = (y * y) @ avg
    sd += 1e-5
    np.sqrt(sd, out=sd)
    y /= sd[..., None]
    y *= g
    y += b
    return y


def _attention(
    q: np.ndarray,
    k: np.ndarray,
    v: np.ndarray,
    bias: np.ndarray | None,
    scores: np.ndarray | None = None,
) -> np.ndarray:
    """``softmax(q @ k.T + bias) @ v`` over ``[.., L, h]`` heads, in
    the inputs' dtype, for a ``q`` that already carries the 1/sqrt(h)
    scale (``MiniTransformerEmbedder`` folds it into the Q columns of
    its ``qkv`` matrices). ``bias`` is an additive ``[.., L, 1]`` key
    mask, None when no key is padded. ``scores``, if given, is a
    ``[.., L, L]`` buffer the scores are written to.

    The scores are held key-major, ``p[.., key, query]``, so the max
    and the sum run down axis -2, which numpy vectorizes across queries
    (a last-axis max over 128 keys is ~3x slower). One score buffer:
    the bias add, the max-shift and the exp write into it. The softmax
    divide is deferred to the context, ``(v.T @ p) / p.sum``, so it
    runs over ``[.., h, L]`` instead of over the ``[.., L, L]``
    weights."""
    p = np.matmul(k, q.swapaxes(-1, -2), out=scores)
    if bias is not None:
        p += bias
    p -= p.max(axis=-2, keepdims=True)
    np.exp(p, out=p)
    ctx = v.swapaxes(-1, -2) @ p
    ctx /= p.sum(axis=-2, keepdims=True)
    return ctx.swapaxes(-1, -2)


def _gelu(x: np.ndarray) -> np.ndarray:
    """tanh-approximate GELU (Hendrycks & Gimpel 2016, the GPT-2/BERT
    convention) in ``x``'s dtype; one buffer, every step in place.
    The cube is ``x*x*x``: numpy has no fast path for a float32
    ``x**3`` (~80x slower on an encoder-sized tensor)."""
    t = x * x
    t *= x
    t *= 0.044715
    t += x
    t *= 0.7978845608028654
    np.tanh(t, out=t)
    t += 1.0
    t *= x
    t *= 0.5
    return t


class MiniTransformerEmbedder:
    """A REAL transformer-encoder inference path in pure numpy —
    tokenize → pad+mask → multi-head self-attention layers → masked
    mean-pool → L2-normalize — executable in this container (no
    torch / sentence-transformers needed).

    This is the stage the reference runs through SentenceTransformer
    (embedding_models.py:373-475); here every step is explicit:

    - E1 tokenizer: byte-level (ByT5-style) — each UTF-8 byte is a
      token id, plus [CLS]=256; vocab 258 with [PAD]=257. Real ids,
      real truncation, no vocabulary asset to download.
    - E9 max-seq policy: truncate to ``max_seq`` tokens.
    - Tiles: ``encode`` runs the whole forward over tiles of
      ``tile_rows`` texts, sized from the shape so that one tile's
      ``[rows, heads, max_seq, max_seq]`` attention scores take about
      2 MiB (8 rows at d64 / 4 heads / max_seq 128 in float32, 32 at
      max_seq 64) and stay in cache while the softmax passes over
      them. The caller's batch size does not change the tile.
    - E3 padding: per-tile right-pad to the tile's longest row +
      boolean attention mask; padded keys get a large negative
      attention logit whose weight is exactly 0, so a row's vector is
      INDEPENDENT of its tile-mates (tested: batch-size invariance).
      A tile with no padded row skips the key mask and the masked pool.
    - E5 forward: sinusoidal positions, ``n_layers`` pre-LN blocks
      (MHA + GELU FFN, residuals), masked mean-pool over non-pad
      positions, L2-normalize. Attention defers the softmax divide to
      the ``[.., L, h]`` context (``_attention``); its 1/sqrt(h) is
      folded into the Q columns of the ``qkv`` matrices at
      ``load_weights``, and every tile and layer of one ``encode`` call
      writes its scores into one buffer.
    - E8 dtype policy: compute in ``dtype`` (float32|float16);
      STORAGE is always float32 (ingest.py enforces array<float>).

    Weights: ``weights_mode="pretrained"`` (default) loads the
    in-repo contrastively-trained checkpoint matching this
    architecture from ``assets/`` (trained by
    tools/train_mini_encoder.py — span-pair InfoNCE over the sf0.1
    corpus, backprop gradient-checked in
    functions/encoder_train.py), falling back to the deterministic
    seeded init when no matching checkpoint ships.
    ``weights_mode="seeded"`` forces the seeded init (what every
    pre-r3 database was built with — ``make_embedder`` defaults to it
    for stored specs lacking a ``weights`` key, so old stores keep
    embedding queries with the weights their vectors were built
    from). ``load_weights`` swaps in any other checkpoint without
    touching the execution path.
    """

    def __init__(
        self,
        dim: int = 64,
        *,
        n_layers: int = 2,
        n_heads: int = 4,
        max_seq: int = 128,
        seed: int = 0,
        dtype: str = "float32",
        weights_mode: str = "pretrained",
    ):
        if dim % n_heads:
            raise ValueError(f"dim {dim} not divisible by n_heads {n_heads}")
        if dtype not in ("float32", "float16"):
            raise ValueError(f"dtype must be float32|float16, got {dtype}")
        if weights_mode not in ("pretrained", "seeded"):
            raise ValueError(
                f"weights_mode must be pretrained|seeded, got {weights_mode}"
            )
        self.dim, self.n_layers, self.n_heads = dim, n_layers, n_heads
        self.max_seq, self.seed, self.dtype = max_seq, seed, dtype
        self._np_dtype = np.float32 if dtype == "float32" else np.float16
        self.tile_rows = max(
            1,
            _TILE_BYTES
            // (n_heads * max_seq * max_seq * np.dtype(self._np_dtype).itemsize),
        )
        self.weights_tag = "seeded"
        rng = np.random.default_rng(seed)
        s = 1.0 / np.sqrt(dim)
        w = {"tok_emb": rng.normal(0.0, s, (258, dim))}
        for i in range(n_layers):
            w[f"qkv_{i}"] = rng.normal(0.0, s, (dim, 3 * dim))
            w[f"attn_out_{i}"] = rng.normal(0.0, s, (dim, dim))
            w[f"ff1_{i}"] = rng.normal(0.0, s, (dim, 2 * dim))
            w[f"ff2_{i}"] = rng.normal(0.0, s, (2 * dim, dim))
            for ln in (f"ln1_{i}", f"ln2_{i}"):
                w[f"{ln}_g"] = np.ones(dim)
                w[f"{ln}_b"] = np.zeros(dim)
        # sinusoidal positions (fixed, not learned)
        pos = np.arange(max_seq)[:, None]
        freq = np.exp(-np.log(10000.0) * (np.arange(0, dim, 2) / dim))[None, :]
        pe = np.zeros((max_seq, dim))
        pe[:, 0::2] = np.sin(pos * freq)
        pe[:, 1::2] = np.cos(pos * freq)
        w["pos_emb"] = pe
        # what load_weights accepts: the seeded init's keys and shapes
        self._shapes = {k: v.shape for k, v in w.items()}
        if weights_mode == "pretrained":
            import os

            from vectordb_light_spark.functions import encoder_train as _et

            ckpt = _et.checkpoint_path(dim, n_layers, n_heads, max_seq)
            if os.path.isfile(ckpt):
                w = _et.load_checkpoint(ckpt)
                self.weights_tag = "pretrained-v1"
        self.load_weights(w)

    def load_weights(self, weights: dict[str, np.ndarray]) -> None:
        """Install a weight dict (same keys and shapes the constructor
        seeds) — the hook a trained checkpoint comes through. Raises
        ``ValueError`` on a missing, unexpected or wrong-shaped array and
        on a value that is not finite in the compute dtype, so a bad
        checkpoint fails here instead of encoding NaN vectors.

        ``_w`` keeps the checkpoint as given (the float64 reference,
        ``encoder_train.forward``, reads it); the kernel runs ``_qkv``,
        copies of the ``qkv`` matrices whose Q columns carry attention's
        1/sqrt(h), so no layer scales ``q`` at run time."""
        shapes = self._shapes
        if set(weights) != set(shapes):
            raise ValueError(
                f"weights do not fit {self.spec}: missing "
                f"{sorted(set(shapes) - set(weights))}, unexpected "
                f"{sorted(set(weights) - set(shapes))}"
            )
        w = {}
        for k, v in weights.items():
            with np.errstate(over="ignore"):  # overflow shows as inf below
                w[k] = np.asarray(v, dtype=self._np_dtype)
            if w[k].shape != shapes[k]:
                raise ValueError(
                    f"weight {k!r} has shape {w[k].shape}, expected {shapes[k]}"
                )
            if not np.isfinite(w[k]).all():
                raise ValueError(f"weight {k!r} has a non-finite {self.dtype} value")
        qkv = [w[f"qkv_{i}"].copy() for i in range(self.n_layers)]
        scale = self._np_dtype(1.0 / np.sqrt(self.dim // self.n_heads))
        for m in qkv:
            m[:, : self.dim] *= scale
        self._w, self._qkv = w, qkv

    @property
    def spec(self) -> dict:
        return {
            "encoder": "mini-transformer",
            "dim": self.dim,
            "layers": self.n_layers,
            "heads": self.n_heads,
            "max_seq": self.max_seq,
            "seed": self.seed,
            "dtype": self.dtype,
            # which weights actually loaded — persisted in _meta so a
            # store is always reopened with the weights that built it
            "weights": self.weights_tag,
        }

    def tokenize(self, text: str) -> list[int]:
        """E1: [CLS] + UTF-8 bytes, truncated to max_seq (E9)."""
        return [256, *(text or "").encode("utf-8")][: self.max_seq]

    def encode(self, texts: list[str]) -> np.ndarray:
        """L2-normalized float32 ``[len(texts), dim]`` vectors, one tile
        of ``tile_rows`` texts at a time. Every tile and layer writes its
        attention scores into one buffer allocated here: a fresh 2 MiB
        array per layer costs its page faults each time."""
        out = np.empty((len(texts), self.dim), np.float32)
        rows = min(len(texts), self.tile_rows)
        scores = np.empty(rows * self.n_heads * self.max_seq**2, self._np_dtype)
        for s in range(0, len(texts), self.tile_rows):
            out[s : s + self.tile_rows] = self._encode_tile(
                texts[s : s + self.tile_rows], scores
            )
        return out

    def _encode_tile(self, texts: list[str], scores: np.ndarray) -> np.ndarray:
        """The forward over one tile of at most ``tile_rows`` texts,
        padded to the tile's own longest row; ``scores`` is the flat
        attention-score buffer."""
        w, dt = self._w, self._np_dtype
        ids = [self.tokenize(t) for t in texts]
        n, L = len(ids), max(len(t) for t in ids)
        tok = np.full((n, L), 257, dtype=np.int64)  # [PAD]
        mask = np.zeros((n, L), dtype=bool)
        for i, t in enumerate(ids):  # E3: right-pad + mask
            tok[i, : len(t)] = t
            mask[i, : len(t)] = True
        padded = not mask.all()
        # additive mask on padded KEYS (broadcast over queries): large
        # finite negative — exp() underflows to exactly 0, and unlike
        # finfo.min it cannot overflow to -inf when added to a score
        bias = None
        if padded:
            neg = dt(-1e4) if dt is np.float16 else dt(-1e9)
            bias = np.where(mask[:, None, :, None], dt(0), neg)

        x = w["tok_emb"][tok] + w["pos_emb"][:L][None, :, :]
        H, h = self.n_heads, self.dim // self.n_heads
        p = scores[: n * H * L * L].reshape(n, H, L, L)
        for i in range(self.n_layers):
            y = _layer_norm(x, w[f"ln1_{i}_g"], w[f"ln1_{i}_b"])
            # [n, L, 3D] → q, k, v, each [n, H, L, h]
            qkv = y @ self._qkv[i]
            q, k, v = qkv.reshape(n, L, 3, H, h).transpose(2, 0, 3, 1, 4)
            ctx = _attention(q, k, v, bias, p).transpose(0, 2, 1, 3)
            x = x + ctx.reshape(n, L, self.dim) @ w[f"attn_out_{i}"]
            y = _layer_norm(x, w[f"ln2_{i}_g"], w[f"ln2_{i}_b"])
            x = x + _gelu(y @ w[f"ff1_{i}"]) @ w[f"ff2_{i}"]

        # masked mean-pool: padded positions contribute nothing
        if padded:
            x *= mask[:, :, None]
        pooled = x.sum(axis=1) / mask.sum(axis=1, keepdims=True).astype(dt)
        pooled = pooled.astype(np.float32)  # E8: storage dtype
        norms = np.linalg.norm(pooled, axis=1, keepdims=True)
        np.maximum(norms, 1e-12, out=norms)
        return pooled / norms


#: E4 — per-model encode batch sizes (reference
#: embedding_models.py:88-117 ENCODE_BATCH_SIZE_BY_MODEL; same keys,
#: same VRAM fallback curve).
ENCODE_BATCH_SIZE_BY_MODEL = {
    "bge-small-en-v1.5": 100,
    "bge-base-en-v1.5": 80,
    "bge-large-en-v1.5": 50,
    "qwen3-embedding-0.6b": 10,
    "qwen3-embedding-4b": 5,
    # engine-local encoders: CPU-bound numpy, larger batches amortize
    # the per-batch Python overhead
    "mini-transformer": 64,
    "hashing": 256,
}


def model_encode_batch_size(
    spec_or_name: dict | str, *, device: str = "cpu", vram_gb: float | None = None
) -> int:
    """E4: model-aware encode batch size. Known models get their
    table entry; unknown CUDA models get the reference's VRAM curve
    ``clamp(vram*4, 10, 256)``; unknown CPU models get 10 (reference
    _get_encode_batch_size fallbacks)."""
    if isinstance(spec_or_name, dict):
        name = str(
            spec_or_name.get("model", spec_or_name.get("encoder", ""))
        )
    else:
        name = spec_or_name
    name = name.rsplit("/", 1)[-1].lower()
    for key, size in ENCODE_BATCH_SIZE_BY_MODEL.items():
        if key in name:
            return size
    if device.startswith("cuda") and vram_gb:
        return max(10, min(256, int(vram_gb * 4)))
    return 10


#: Query instruction prompts per model family (E7, reference
#: embedding_models.py:58-63).
_FAMILY_PROMPTS = {
    "qwen": (
        "Instruct: Given a web search query, retrieve relevant passages "
        "that answer the query\nQuery:"
    ),
    "bge": "Represent this sentence for searching relevant passages: ",
}


def family_of(model_name: str) -> str:
    """Model-family detection (reference embedding_models.py:49-55)."""
    name = model_name.lower()
    if "qwen" in name:
        return "qwen"
    if "bge" in name:
        return "bge"
    return "generic"


class SentenceTransformerEmbedder:
    """Real-model encoder — import-gated on sentence-transformers.

    Applies the reference's flat query normalization + family prompt
    for queries (embedding_models.py:66-85,477-487) and L2-normalizes
    every output (:437).
    """

    def __init__(self, model_name: str, dim: int | None = None):
        from sentence_transformers import SentenceTransformer  # gated

        self._model = SentenceTransformer(model_name)
        self.model_name = model_name
        self.dim = dim or self._model.get_sentence_embedding_dimension()

    @property
    def spec(self) -> dict:
        return {"encoder": "sentence-transformers", "model": self.model_name, "dim": self.dim}

    def encode(self, texts: list[str]) -> np.ndarray:
        vecs = self._model.encode(
            texts, normalize_embeddings=True, convert_to_numpy=True
        )
        return np.ascontiguousarray(vecs, dtype=np.float32)


def make_embedder(spec: dict):
    """Rebuild an encoder from its stored spec (the _meta sidecar
    persists this so the read path embeds queries with the SAME model
    the database was built with — reference vector_db_query.py:152)."""
    kind = spec.get("encoder", "hashing")
    if kind == "hashing":
        return HashingEmbedder(dim=int(spec.get("dim", DEFAULT_DIM)), seed=int(spec.get("seed", 0)))
    if kind == "mini-transformer":
        # stored specs WITHOUT a weights key predate the shipped
        # checkpoints: those stores were built with seeded weights, so
        # reopening must embed queries the same way
        stored = str(spec.get("weights", "seeded"))
        enc = MiniTransformerEmbedder(
            int(spec.get("dim", DEFAULT_DIM)),
            n_layers=int(spec.get("layers", 2)),
            n_heads=int(spec.get("heads", 4)),
            max_seq=int(spec.get("max_seq", 128)),
            seed=int(spec.get("seed", 0)),
            dtype=str(spec.get("dtype", "float32")),
            weights_mode="seeded" if stored == "seeded" else "pretrained",
        )
        if enc.weights_tag != stored:
            raise ValueError(
                f"store was built with weights {stored!r} but this "
                f"install resolves {enc.weights_tag!r} — refusing to "
                "embed queries with mismatched weights"
            )
        return enc
    if kind == "sentence-transformers":
        return SentenceTransformerEmbedder(spec["model"], dim=spec.get("dim"))
    raise ValueError(f"unknown encoder spec: {spec!r}")


# ---------------------------------------------------------------------------
# The mapInPandas stage
# ---------------------------------------------------------------------------

#: Per-process encoder cache: executors reuse one model across Arrow
#: batches and tasks (reference loads the model once per run,
#: embedding_models.py:373-405; per-executor is the Spark analogue).
_ENCODER_CACHE: dict[str, object] = {}


def _cached_encoder(spec: dict):
    key = repr(sorted(spec.items()))
    enc = _ENCODER_CACHE.get(key)
    if enc is None:
        enc = make_embedder(spec)
        _ENCODER_CACHE[key] = enc
    return enc


def embed_map(
    df: DataFrame,
    spec: dict,
    *,
    text_col: str = "text",
    out_col: str = "vector",
) -> DataFrame:
    """The embed stage on ``df``'s own partitioning and row order: one
    mapInPandas that adds an L2-normalized float32 ``array<float>``
    column ``out_col`` after ``df``'s columns, which pass through.

    The encoder is resolved per executor process from ``spec`` and
    cached, and is handed ``model_encode_batch_size(spec)`` texts at a
    time (the E4 table). The mini-transformer splits each batch into
    cache-sized tiles (``MiniTransformerEmbedder.tile_rows``, 8 texts at
    its default shape) and defers each softmax divide to the attention
    context; its GEMMs run on the BLAS kernels the worker daemon picks
    for the CPU (:mod:`vectordb_light_spark.worker_daemon`). Feed it
    each partition sorted by text length (E2) so the tiles pad
    near-rectangularly, and most tiles of truncated chunks need no mask
    at all; for the hashing encoder it's a no-op cost-wise either way.
    """
    encode_batch_size = model_encode_batch_size(spec)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in df.schema]
        + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = _cached_encoder(spec)
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            vecs: list[np.ndarray] = []
            for i in range(0, len(texts), encode_batch_size):
                vecs.append(enc.encode(texts[i : i + encode_batch_size]))
            mat = np.vstack(vecs) if vecs else np.zeros((0, enc.dim), np.float32)
            out = pdf.copy()
            out[out_col] = [row for row in mat]
            yield out

    return df.mapInPandas(run, schema=schema)


def embed_documents(
    df: DataFrame,
    spec: dict,
    *,
    text_col: str = "text",
    out_col: str = "vector",
) -> DataFrame:
    """:func:`embed_map` over ``df`` with each partition sorted by text
    length, widened to the cluster's core count first
    (:func:`~vectordb_light_spark.session.rebalance`) when it is
    narrower: encoding is the expensive stage of the write path, and a
    narrow scan would otherwise serialize it on one core. The shuffle
    moves only the pre-embed rows (id + text), never vectors.
    """
    view = f"embed_src_{uuid.uuid4().hex}"
    by_length = sql_over(
        rebalance(df), view,
        f"SELECT * FROM {view} SORT BY length({quote_ident(text_col)}) DESC",
    )
    return embed_map(by_length, spec, text_col=text_col, out_col=out_col)


def embed_query(text: str, spec: dict) -> list[float]:
    """Driver-side single-text embed with flat normalization and the
    model family's instruction prompt (Q1/E7 — reference
    vector_db_query.py:152-159, embedding_models.py:477-487). No Spark
    job for one vector."""
    from vectordb_light_spark.functions.text import normalize_query_text_py

    enc = _cached_encoder(spec)
    prompt = ""
    model_name = spec.get("model", "")
    if model_name:
        prompt = _FAMILY_PROMPTS.get(family_of(model_name), "")
    normalized = normalize_query_text_py(text)
    return [float(x) for x in enc.encode([prompt + normalized])[0]]


# ---------------------------------------------------------------------------
# Feature-hash embedding (pure-JVM hashing trick; oracle-replicable)
# ---------------------------------------------------------------------------


def feature_hash_weights(
    df,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
):
    """Sparse feature-hash embedding (the hashing trick, Weinberger
    2009) as (id, bucket, weight) triples — NO Python anywhere:
    bucket and sign derive from md5(token) hex substrings via JVM
    ``conv``, so the whole embed stage is codegen builtins AND
    bit-replicable in SQL engines with an md5 function (the oracle
    path). Signed counts cancel hash collisions in expectation.

    Scale shape: tokenize-explode → one groupBy on (id, bucket) with
    map-side partial sums; the exchange carries ≤ dim rows per
    document regardless of text size."""
    from pyspark.sql import functions as F

    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__tok"),
    ).where(F.col("__tok") != "")
    h = F.md5(F.col("__tok"))
    bucket = (F.conv(h.substr(1, 8), 16, 10).cast("long") % dim).alias("bucket")
    sign = F.when(
        F.conv(h.substr(9, 1), 16, 10).cast("long") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        tok.select(F.col(id_col), bucket, sign.alias("__s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("__s").alias("weight"))
        .where(F.col("weight") != 0)
    )


def feature_hash_query_weights(text: str, dim: int = 64) -> list[tuple[int, int]]:
    """Driver-side twin of :func:`feature_hash_weights` for a query
    string: [(bucket, weight)], same md5-derived buckets/signs."""
    import hashlib
    from collections import defaultdict

    acc: dict[int, int] = defaultdict(int)
    for tok in text.lower().strip().split():
        if not tok:
            continue
        h = hashlib.md5(tok.encode()).hexdigest()
        acc[int(h[:8], 16) % dim] += 1 if int(h[8], 16) % 2 == 0 else -1
    return [(b, w) for b, w in sorted(acc.items()) if w != 0]
