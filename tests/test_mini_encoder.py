"""The real inference path: MiniTransformerEmbedder (E1/E3/E4/E5/E8).

The properties tested here are the ones a REAL transformer encoder
must satisfy — they fail on a broken mask, a wrong pool, or a
non-deterministic weight init, regardless of whether the weights are
trained:

- batch invariance: a row's vector is independent of its batch-mates
  (padding + attention mask correctness — THE property that breaks
  when masking is wrong);
- determinism across processes (seeded weights, no global state);
- truncation policy (E9) actually bounds what the vector sees;
- dtype policy (E8): float16 compute still stores float32 vectors;
- the E4 batch table resolves model-aware sizes like the reference
  (embedding_models.py:88-117).
"""

from __future__ import annotations

import numpy as np
import pytest

from vectordb_light_spark.functions.embedding import (
    MiniTransformerEmbedder,
    _attention,
    _gelu,
    embed_documents,
    embed_query,
    model_encode_batch_size,
)

SF = "/root/testdata/sf0.001"

TEXTS = [
    "a short one",
    "the quick brown fox jumps over the lazy dog " * 3,
    "Zwölf Boxkämpfer jagen Viktor quer über den großen Sylter Deich",
    "",
    "x",
    "numbers 12345 and punctuation!!! — em-dash, ünïcödé",
]

#: mixed lengths in no length order, spread over several encode tiles:
#: empty, 1 byte, multibyte and texts past max_seq
MIXED = TEXTS + [f"word{i} " * (i * i % 37) for i in range(1, 19)] + ["€" * 60, "y" * 300]


def test_encode_shapes_unit_norm_determinism():
    # weights_mode="seeded": this test pins the seeded-init contract;
    # the default would load the shipped d64 checkpoint and make the
    # seed irrelevant (covered in test_encoder_train.py)
    enc = MiniTransformerEmbedder(64, seed=7, weights_mode="seeded")
    a = enc.encode(TEXTS)
    assert a.shape == (len(TEXTS), 64) and a.dtype == np.float32
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0, atol=1e-5)
    # fresh instance, same seed → bit-identical weights and outputs
    b = MiniTransformerEmbedder(64, seed=7, weights_mode="seeded").encode(TEXTS)
    assert np.array_equal(a, b)
    # different seed → different encoder
    c = MiniTransformerEmbedder(64, seed=8, weights_mode="seeded").encode(TEXTS)
    assert not np.allclose(a, c, atol=1e-3)


def test_batch_invariance_is_exact_to_float_noise():
    """Encoding a text alone and encoding it padded next to a much
    longer text must agree — this is exactly the attention-mask +
    masked-mean-pool contract; an unmasked implementation fails it
    by a wide margin. MIXED spans several tiles, so a row's vector must
    also not depend on which tile it lands in."""
    enc = MiniTransformerEmbedder(32, n_layers=2, seed=3)
    alone = enc.encode(["tiny"])[0]
    batched = enc.encode(["tiny", "a much longer document " * 20])[0]
    assert np.allclose(alone, batched, atol=2e-5)
    assert len(MIXED) > 2 * enc.tile_rows
    for texts in (TEXTS, MIXED):
        # whole-list vs one-at-a-time vs reversed
        all_at_once = enc.encode(texts)
        one_by_one = np.vstack([enc.encode([t]) for t in texts])
        reversed_ = enc.encode(texts[::-1])[::-1]
        assert np.allclose(all_at_once, one_by_one, atol=2e-5)
        assert np.allclose(all_at_once, reversed_, atol=2e-5)


def test_truncation_bounds_what_the_vector_sees():
    enc = MiniTransformerEmbedder(32, max_seq=16, seed=0)
    base = "abcdefghijklmno"  # 15 bytes + CLS = exactly max_seq
    same = enc.encode([base, base + "COMPLETELY DIFFERENT TAIL"])
    assert np.allclose(same[0], same[1], atol=2e-5)
    # a difference INSIDE the window does change the vector
    diff = enc.encode([base, "Xbcdefghijklmno"])
    assert not np.allclose(diff[0], diff[1], atol=1e-3)


def test_dtype_policy_float16_compute_float32_storage():
    e32 = MiniTransformerEmbedder(32, seed=1, dtype="float32")
    e16 = MiniTransformerEmbedder(32, seed=1, dtype="float16")
    a, b = e32.encode(TEXTS[:3]), e16.encode(TEXTS[:3])
    assert b.dtype == np.float32  # storage dtype regardless of compute
    # same seeded weights, lower precision → close but not identical
    assert np.allclose(a, b, atol=2e-2)
    assert not np.array_equal(a, b)
    with pytest.raises(ValueError):
        MiniTransformerEmbedder(32, dtype="bfloat16")
    with pytest.raises(ValueError):
        MiniTransformerEmbedder(33, n_heads=4)


@pytest.mark.parametrize("dtype", [np.float16, np.float32, np.float64])
def test_gelu_and_softmax_keep_the_input_dtype(dtype):
    """The in-place kernels compute in the input dtype (float16 compute
    stays float16), leave the input alone, and match the closed forms
    evaluated in float64 to within a few units of the dtype's eps."""
    x = np.random.default_rng(0).normal(0.0, 3.0, (4, 8, 16)).astype(dtype)
    before = x.copy()
    x64 = x.astype(np.float64)
    tol = 16 * np.finfo(dtype).eps

    g = _gelu(x)
    want = 0.5 * x64 * (1.0 + np.tanh(np.sqrt(2 / np.pi) * (x64 + 0.044715 * x64**3)))
    assert g.dtype == dtype
    np.testing.assert_allclose(g, want, rtol=tol, atol=tol)
    np.testing.assert_array_equal(x, before)

    # the tiled attention's softmax (q carries the 1/sqrt(h) scale): a
    # masked key gets exactly weight 0
    rng = np.random.default_rng(1)
    q, k, v = (rng.normal(0.0, 1.0, (2, 4, 16, 8)).astype(dtype) for _ in range(3))
    bias = np.zeros((2, 1, 16, 1), dtype)
    bias[0, :, -3:] = -1e4  # the first row's last 3 keys are padding
    before = [a.copy() for a in (q, k, v, bias)]
    ctx = _attention(q, k, v, bias)
    assert ctx.dtype == dtype
    q64, k64, v64 = (a.astype(np.float64) for a in (q, k, v))
    s64 = q64 @ k64.swapaxes(-1, -2) + bias.astype(np.float64).swapaxes(-1, -2)
    e = np.exp(s64 - s64.max(axis=-1, keepdims=True))
    want = e / e.sum(axis=-1, keepdims=True) @ v64
    np.testing.assert_allclose(ctx, want, rtol=tol, atol=tol)
    for a, b in zip((q, k, v, bias), before):
        np.testing.assert_array_equal(a, b)
    # a given score buffer holds the same scores
    np.testing.assert_array_equal(_attention(q, k, v, bias, np.empty((2, 4, 16, 16), dtype)), ctx)
    v[0, :, -3:] = 1e3  # a masked key's value cannot reach the output
    np.testing.assert_array_equal(_attention(q, k, v, bias), ctx)
    assert _attention(q, k, v, None).dtype == dtype


def test_load_weights_rejects_a_bad_checkpoint():
    """A NaN weight would encode NaN vectors that create_database
    stores; a wrong-shaped or missing array would fail deep inside a
    Spark task. All of them raise at load_weights, and the weights in
    use stay installed."""
    enc = MiniTransformerEmbedder(32, seed=1, weights_mode="seeded")
    good = {k: v.astype(np.float64) for k, v in enc._w.items()}
    want = enc.encode(TEXTS)
    nan = dict(good, ff1_1=good["ff1_1"].copy())
    nan["ff1_1"][3, 5] = np.nan
    with pytest.raises(ValueError, match="'ff1_1' has a non-finite"):
        enc.load_weights(nan)
    with pytest.raises(ValueError, match=r"'qkv_0' has shape \(32, 64\)"):
        enc.load_weights(dict(good, qkv_0=good["qkv_0"][:, :64]))
    with pytest.raises(ValueError, match=r"missing \['ln2_1_b'\]"):
        enc.load_weights({k: v for k, v in good.items() if k != "ln2_1_b"})
    with pytest.raises(ValueError, match=r"unexpected \['extra'\]"):
        enc.load_weights(dict(good, extra=np.zeros(3)))
    np.testing.assert_array_equal(enc.encode(TEXTS), want)
    enc.load_weights(good)
    np.testing.assert_array_equal(enc.encode(TEXTS), want)
    # finite in the checkpoint, inf in float16 compute
    e16 = MiniTransformerEmbedder(32, seed=1, dtype="float16", weights_mode="seeded")
    with pytest.raises(ValueError, match="'tok_emb' has a non-finite float16"):
        e16.load_weights(dict(good, tok_emb=good["tok_emb"] * 1e6))


def test_e4_batch_table_matches_reference_semantics():
    assert model_encode_batch_size("bge-small-en-v1.5") == 100
    assert model_encode_batch_size("BAAI/bge-large-en-v1.5") == 50
    assert model_encode_batch_size("Qwen/Qwen3-Embedding-4B") == 5
    assert model_encode_batch_size({"encoder": "hashing"}) == 256
    assert model_encode_batch_size({"encoder": "mini-transformer"}) == 64
    # unknown model: VRAM curve on cuda, 10 on cpu
    assert model_encode_batch_size("other", device="cuda", vram_gb=16.0) == 64
    assert model_encode_batch_size("other", device="cuda", vram_gb=200.0) == 256
    assert model_encode_batch_size("other") == 10


def test_embed_documents_end_to_end_with_real_encoder(spark):
    """The full Spark path (E2 length-sort → mapInPandas → Arrow out)
    with real inference inside, over the driver's documents table."""
    from vectordb_light_spark.session import load_table

    # spec without a "weights" key resolves to seeded (old-store
    # compatibility) — the driver-side twin must ask for the same
    spec = {"encoder": "mini-transformer", "dim": 32, "seed": 5, "max_seq": 64}
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(50)
    out = embed_documents(docs, spec).collect()
    assert len(out) == 50
    by_id = {r["doc_id"]: np.array(r["vector"], dtype=np.float32) for r in out}
    assert all(v.shape == (32,) for v in by_id.values())
    assert all(abs(float(np.linalg.norm(v)) - 1.0) < 1e-4 for v in by_id.values())
    # Spark-side vectors equal driver-side encode of the same text
    enc = MiniTransformerEmbedder(32, seed=5, max_seq=64, weights_mode="seeded")
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    some = list(rows)[:5]
    local = enc.encode([rows[i] for i in some])
    for i, doc_id in enumerate(some):
        assert np.allclose(by_id[doc_id], local[i], atol=2e-5)


def test_embed_query_uses_mini_transformer(spark):
    spec = {"encoder": "mini-transformer", "dim": 32, "seed": 5}
    v = embed_query("what is in the corpus?", spec)
    assert len(v) == 32
    assert abs(sum(x * x for x in v) - 1.0) < 1e-4
