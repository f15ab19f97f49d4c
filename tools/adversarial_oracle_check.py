"""End-to-end oracle parity on ADVERSARIAL whitespace-salted text.

The driver's corpus is single-line ASCII, so the measured
cross-engine skew classes (RE2 ``\\s`` lacking \\x0B; DuckDB 1-arg
``trim`` stripping the Unicode SPACE class; the ``lower()``
boundary; Java's Unicode-aware regex ``\\b`` — see
tools/audit_cross_engine_tokens.py) can never fire there. This tool
fires them on purpose: it synthesizes a ``documents`` table whose
texts are salted with every divergence character (\\x0B, NBSP,
\\x1C, \\f, \\r, \\t, newlines, runs of spaces, leading/trailing
salts) plus mixed-case non-ASCII words exercising the ``lower()``
path on the codepoints where the engines provably agree (r9), then
runs the SAME Spark-vs-DuckDB compare as tools/check_oracle.py for
three entry groups:

- PINNED entries (the r8/r9 migration batches): must PASS — this is
  the empirical proof the pin holds end-to-end through real plans,
  not just at the tokenizer-unit level;
- CLEAN entries (no flagged legacy site): must PASS — a failure here
  is a NEW divergence class, exactly how the Java-``\\b`` class was
  found in r9;
- KNOWN-SKEWED entries (still on bare ``\\s``/1-arg trim/``\\b``,
  queued for r10): allowed to FAIL — a failure here CONFIRMS the
  audit's claim that the latent skew is real, and a pass means the
  salt simply missed that entry's sites this time (still latent).

The src_* roundtrip entries are deliberately in NO group (measured,
r9): their SYNTH builders are format-bounded in ways this corpus
violates by design — XML 1.0 cannot represent \\x0B/\\x1C at all
(the docx/xlsx bodies drop, a file-format law, not engine skew) and
build_pdf's r8 loud-failure guard correctly refuses non-latin-1
text (the Cyrillic case salts). Their extract paths handle real
files; only the synthetic write side is bounded.

Exit code is 1 only if a PINNED/CLEAN entry fails (or a harness
error).

    python tools/adversarial_oracle_check.py [n_docs]
"""

from __future__ import annotations

import random
import sys
import tempfile
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from check_oracle import check_entry  # noqa: E402

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from vectordb_light_spark.session import get_spark  # noqa: E402

#: Entries whose oracles carry the pinned spelling (r8 + r9
#: migration batches) — each reads ONLY the documents table, so the
#: synthetic table suffices.
PINNED = [
    "dd_exact_dedup",
    "dd_minhash_candidates",
    "dd_cross_corpus_candidates",
    "dd_repeated_spans",
    "dd_strip_repeated_spans",
    "pipe_token_budget_mix",
    "ts_vocab_topk",
    "ts_gopher_filter",
    "ts_repetition_filter",
    "pipe_decontaminate",
    "pipe_bloom_decontaminate",
    "pipe_bpe_merges",
    "pipe_bpe_encode",
    # r9 batch — the quality-CTE trio (the r8 PARTIALLY_PINNED chain
    # upgraded: its quality stage now shares the pinned 2-arg-trim
    # CTE with the classifier and curriculum twins)...
    "ts_quality_classifier",
    "pipe_curriculum_order",
    "pipe_curate_chain",
    # ...and the r6-stale free pins that rode the r9 grading cut:
    "dd_duplicate_groups",
    "dd_duplicate_clusters",
    "dd_jaccard_pairs",
    "dd_simhash_near_dups",
    "dd_remove_boilerplate",
    "ts_quality_score",
    "ts_c4_filter",
    "pipe_training_corpus",
    "pipe_token_windows",
    "pipe_semantic_decontaminate",
    "sim_sparse_cosine_pairs",
    "kw_bm25_topk",
    "emb_feature_hash_topk",
    # embeddings-reading pinned entries, runnable since the harness
    # fakes embeddings.parquet (r9): the hybrid fusion's lexical arm
    # tokenizes the salted text; the chunks formatter's whitespace
    # regex chain runs on it directly.
    "kw_hybrid_rrf",
    "vq_chunks_only",
    # r9 Java-\b pin (split-on-word-class membership instead of RE2
    # \b — the 4th measured divergence class; ts_gopher_filter and
    # ts_c4_filter above carry the same pin)
    "ts_lang_id",
    # late-r9: pulled into the cut by the post-cost-refresh fixpoint
    "ts_text_stats",
    # r10 batch — the final migration sweep (audit inventory now 0):
    # the r7-stale free pins (\s -> explicit class, 1-arg trim ->
    # 2-arg; the chunker strips use the BMP-swept RE2 twin of
    # Python-str.strip, tests/test_adversarial_oracles.py)...
    "dd_embedding_near_dups",
    "dd_semantic_dedup",
    "dd_line_dedup",
    "pipe_chunk_fixed",
    "pipe_dsir_select",
    "ts_winnow_fingerprints",
    "pipe_pdf_page_chunks",
    # ...the url-chain twins (they synthesize urls from doc_id and
    # never read the salted text — trivially green here; the
    # trim(url, ' ') pin matters for real url columns, not this
    # corpus)...
    "pipe_url_dedup",
    "pipe_domain_mix",
    # ...and the class-4 headroom spend: the IPv4 Java-\b 2-pass
    # capture-group emulation (queries.py _PII_IP_B) must hold on the
    # letter-adjacent IP salts that CONFIRMED the old skew in r9.
    "ts_pii_scrub",
    # r10 registration: the leakage-safe split reads only documents
    # and its oracle is built from the pinned minhash CTEs — the full
    # cluster-route-check chain must hold on salted text (duplicate
    # clusters are planted by make_docs, so the check is non-vacuous).
    "pipe_leakage_safe_split",
    # r11 registration: extended PII tier — SSN Java-\b via the
    # 2-pass capture-group emulation (_PII_SSN_B) must hold on the
    # letter/astral-adjacent SSN salts; the card stage is
    # boundary-FREE (identical regex both engines) so its salts
    # (adjacent digit runs, glued runs) exercise the sub-run rescan,
    # not a boundary class.
    "ts_pii_scrub_extended",
    # r12 registration: the composed chain+split — gates are the
    # pinned pipe_curate_chain CTEs, the split machinery the pinned
    # minhash/cluster/routing chain sourced from the survivor set;
    # the whole composition must hold on salted text.
    "pipe_curate_split_chain",
]

#: Entries whose oracle twins a Python UDF that SQL cannot fully
#: reproduce — pipe_chunk_normalized's normalizer applies NFKC and a
#: C0/C1/invisibles deletion table (functions/text.py
#: normalize_text_py) before the whitespace collapse, so on salted
#: text the engines legitimately differ (e.g. a dropped \x1C shifts
#: n_chars; NFKC turns NBSP into a space pre-collapse). The strip
#: and collapse sites ARE pinned (graded-corpus equivalence is
#: exact); the UDF's full char-class behavior is owned by
#: tests/test_text_functions.py parity tests. Reported, never fatal
#: — the src_* no-group precedent, but visible.
UDF_BOUNDED = [
    "pipe_chunk_normalized",
]

#: Entries pinned at SOME sites with a known legacy site deferred to
#: a later grading slot — none left after the r9 batch (the chain
#: moved to PINNED above). Kept as a slot for future partial states.
PARTIALLY_PINNED: list[str] = []

#: Text-touching entries whose oracles carry NO flagged legacy site
#: (r9): they must pass on the salted corpus too — a failure here is
#: not a known class firing but a NEW divergence class, exactly how
#: the Java-\b class was found. Fatal like PINNED.
CLEAN_MUST_PASS = [
    "ts_readability",
    "ts_bigram_lm_score",
    "dd_containment_pairs",
    "ts_tfidf_top_terms",
    "pipe_cdc_chunks",
    "pipe_doc_hash",
    "vq_rag_prompt",
    "pipe_weighted_sample",
    # the full vq search surface + representatives of the mm/ann/src
    # families, all verified green on this corpus in the r9 discovery
    # sweep (salted text flows through their post-filters, citation
    # grouping, formatting, and extraction paths)
    "vq_topk_cosine",
    "vq_batch_topk",
    "vq_citations",
    "vq_filtered_topk",
    "vq_grouped_topk",
    "vq_mmr_rerank",
    "vq_postfilters",
    "vq_range_search",
    "vq_threshold_after_topk",
    "vq_topk_quantized",
    "src_markup_roundtrip",
    "mm_image_decode",
    "ann_srp_topk",
    # r9 robustness fixes: both CRASHED on this corpus before the
    # non-srcNN source fallbacks (try_cast tiering / md5 pattern id)
    "pipe_temperature_mix",
    "dd_image_near_dups",
]

#: Entries still on a legacy spelling — EMPTY as of r10 (the final
#: migration batch landed; tools/audit_cross_engine_tokens.py
#: inventory reads 0). Kept as a slot should a new divergence class
#: surface. Reported, never fatal.
KNOWN_SKEWED: list[str] = []

_SALT = ["\x0b", "\xa0", "\x1c", "\t", "\f", "\r", "\n", "  ", "   ", " "]
_WORDS = (
    "the quick brown fox jumps over a lazy dog and then some more "
    "words with be to of that have data spark oracle pin check"
).split()
#: Mixed-case non-ASCII words exercising the ``lower()`` path (r9,
#: VERDICT item 6). Every codepoint here lower()s identically on both
#: engines — the divergent set is EXACTLY the 14 codepoints pinned by
#: tests/test_adversarial_oracles.py::
#: test_lower_cross_engine_boundary_is_the_known_14 (İ + 13
#: JVM-newer letters), all excluded, as is Σ (Java applies the
#: contextual final-sigma FULL mapping inside words; utf8proc
#: doesn't). A failure on these words is a REAL pin regression, not
#: the documented unpinned case class.
_CASE_WORDS = [
    "Ärger", "ÜBER", "CaFÉ", "Ñandú", "Łódź", "ŽURNÁL",
    "МОСКВА", "Привет", "ĞÜNEŞsiz", "ẞharp", "ǅungla",
    # letter-adjacent IPv4s: Java \b sees é/º as word chars (no
    # boundary before the digits → no match), RE2 sees non-word
    # (boundary → match) — the salt that fires ts_pii_scrub's
    # class-4 site instead of leaving it latent (r9).
    "é10.0.0.1", "10.0.0.2º",
    # r10: ASTRAL salts — surrogate-pair text through every pinned
    # plan (shingles, md5 tokens, substr chunking, regex classes).
    # Chosen OUTSIDE the measured Unicode-table frontier
    # (test_unicode_frontier_...): Gothic (U+10330s) and Deseret
    # (U+10400s) are Unicode 3.1 letters in BOTH engines' tables,
    # NFKC-stable (unlike e.g. the math alphanumerics, which NFKC
    # folds to ASCII), and not cased into the known-14/57 divergent
    # sets; emoji are non-word in both. The Gothic-adjacent IPv4
    # exercises the class-4 boundary emulation with an astral word
    # char on its left.
    "𐌰𐌱𐌲word", "𐐨𐐩𐐪", "😀🎉", "mixed𐌸10.0.0.9",
    # r11: extended-PII salts. Letter- and astral-adjacent SSNs fire
    # the _PII_SSN_B class-4 emulation (Java \b sees é/𐌸 as word
    # chars → no match; the RE2 twin must agree); the card salts are
    # a valid PAN with an adjacent digit run (the ADVICE r10 merged-
    # window shape, exercising the sub-run rescan in BOTH engines)
    # and a glued Luhn-invalid run (must survive verbatim).
    "é123-45-6789", "𐌸123-45-6780", "555-12-3456",
    "pay4111111111111111", "4111111111111111 77", "id1234567890123456",
]


def make_docs(n: int, seed: int = 8) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.randint(4, 28)
        parts = []
        for _ in range(k):
            parts.append(
                rng.choice(_CASE_WORDS)
                if rng.random() < 0.15
                else rng.choice(_WORDS)
            )
            parts.append(
                rng.choice(_SALT) if rng.random() < 0.4 else " "
            )
        text = "".join(parts)
        if rng.random() < 0.3:
            text = rng.choice(_SALT) + text
        if rng.random() < 0.3:
            text = text + rng.choice(_SALT)
        # duplicate clusters so dedup tiers have real work
        if i % 11 == 0 and rows:
            text = rows[rng.randrange(len(rows))][1]
        # \x0B-vs-space VARIANT of an earlier doc: canonical forms
        # collapse to the same text on Spark (Java \s has \x0B) but
        # not on a legacy '\s+' oracle (RE2 lacks it) — the pair that
        # trips shingle-level tiers (jaccard/minhash/clusters), not
        # just tokenizers
        elif i % 13 == 0 and rows:
            donor = rows[rng.randrange(len(rows))][1]
            text = donor.replace(" ", "\x0b", 1)
        rows.append(
            (
                i,
                text,
                rng.choice(["en", "de", "fr"]),
                rng.choice(["web", "books", "code", "wiki"]),
                len(text),
            )
        )
    return rows


def write_docs_parquet(rows: list[tuple], dest_dir: str) -> None:
    """Write the synthetic rows as ``documents.parquet`` in
    ``dest_dir`` (the 5-column driver schema)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(
        f"COPY d TO '{dest_dir}/documents.parquet' (FORMAT parquet)"
    )
    con.close()


def write_embeddings_parquet(
    n: int, dest_dir: str, *, dim: int = 64, seed: int = 9
) -> None:
    """Synthetic ``embeddings.parquet`` matching the driver schema
    (vec_id BIGINT, embedding FLOAT[dim], label INT): seeded unit
    Gaussians written as float32 so BOTH engines read identical
    values — lets the embeddings-reading pinned entries
    (vq_chunks_only, kw_hybrid_rrf) run under the salted corpus
    instead of being harness-blind (r9)."""
    import math

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((i, [x / nrm for x in v], i % 5))
    con = duckdb.connect()
    # FLOAT[] (list), not FLOAT[dim] (fixed-size array): the array
    # type writes a parquet FixedSizeList that Spark surfaces as a
    # struct; the driver tables use the list form.
    con.execute(
        "CREATE TABLE e (vec_id BIGINT, embedding FLOAT[], "
        "label INTEGER)"
    )
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", rows)
    con.execute(
        f"COPY e TO '{dest_dir}/embeddings.parquet' (FORMAT parquet)"
    )
    con.close()


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    rows = make_docs(n)

    tmp = tempfile.mkdtemp(prefix="adversarial_docs_")
    write_docs_parquet(rows, tmp)
    write_embeddings_parquet(n, tmp)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet'"
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp}/embeddings.parquet'"
    )

    spark = get_spark("adversarial-oracle")
    fatal = 0

    qs, oracles = queries(), oracle_sql()

    def compare(name: str) -> str:
        return check_entry(spark, con, tmp, qs[name], oracles[name]) or ""

    print(f"# adversarial documents: {n} rows -> {tmp}\n")
    print("## PINNED entries (must pass)")
    for name in PINNED:
        try:
            why = compare(name)
        except Exception as e:  # noqa: BLE001
            why, fatal = f"harness error: {e}", fatal + 1
            print(f"ERROR {name}: {why[:160]}")
            continue
        if why:
            fatal += 1
            print(f"FAIL {name}: {why}")
        else:
            print(f"PASS {name}")

    print(
        "\n## PARTIALLY-PINNED entries (one known legacy site deferred"
        " to r9; a pass is margin, not proof)"
    )
    for name in PARTIALLY_PINNED:
        try:
            why = compare(name)
        except Exception as e:  # noqa: BLE001
            fatal += 1
            print(f"ERROR {name}: harness error: {e}")
            continue
        print(
            f"{'DEFERRED-SKEW-FIRED' if why else 'holds-on-margin'} "
            f"{name}" + (f": {why[:120]}" if why else "")
        )

    print(
        "\n## CLEAN entries (no flagged sites; a failure is a NEW"
        " divergence class)"
    )
    for name in CLEAN_MUST_PASS:
        try:
            why = compare(name)
        except Exception as e:  # noqa: BLE001
            fatal += 1
            print(f"ERROR {name}: harness error: {e}")
            continue
        if why:
            fatal += 1
            print(f"FAIL {name}: {why[:160]}")
        else:
            print(f"PASS {name}")

    print(
        "\n## UDF-BOUNDED entries (oracle twins a Python UDF SQL"
        " can't fully express — NFKC etc.; divergence EXPECTED here,"
        " graded-corpus equivalence is exact)"
    )
    for name in UDF_BOUNDED:
        try:
            why = compare(name)
        except Exception as e:  # noqa: BLE001
            fatal += 1
            print(f"ERROR {name}: harness error: {e}")
            continue
        print(f"{'udf-boundary-fired' if why else 'agrees-here  '} {name}"
              + (f": {why[:120]}" if why else ""))

    print("\n## KNOWN-SKEWED entries (r10 queue; failures EXPECTED)")
    for name in KNOWN_SKEWED:
        try:
            why = compare(name)
        except Exception as e:  # noqa: BLE001
            fatal += 1
            print(f"ERROR {name}: harness error: {e}")
            continue
        # a harness error above is FATAL — it must never masquerade
        # as skew evidence (r8 review)
        print(f"{'SKEW-CONFIRMED' if why else 'not-tripped  '} {name}"
              + (f": {why[:120]}" if why else ""))

    print(f"\npinned failures / harness errors: {fatal}")
    return 1 if fatal else 0


if __name__ == "__main__":
    raise SystemExit(main())
