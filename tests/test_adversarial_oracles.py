"""End-to-end Spark-vs-DuckDB parity on whitespace-salted text.

The driver corpus is ASCII, so the cross-engine tokenization pins
(r8) are invisible there by construction. This suite re-runs a cheap
subset of tools/adversarial_oracle_check.py as pytest: a synthetic
``documents`` table salted with every divergence character, the real
registered query on Spark, the real oracle on DuckDB, the driver's
order-insensitive hash compare. ``pipe_bpe_encode`` is in the subset
because this harness is what caught its 1-arg-ltrim NBSP bug (the
static audit regex could not see through the nested replace chain).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from adversarial_oracle_check import (  # noqa: E402
    make_docs,
    write_docs_parquet,
    write_embeddings_parquet,
)
from check_oracle import check_entry  # noqa: E402

from vectordb_light_spark.queries import ORACLES, QUERIES  # noqa: E402

#: Cheap pinned entries; the full 32-entry sweep (incl. minhash, BPE
#: learning, the curate chain) is tools/adversarial_oracle_check.py.
#: ts_gopher_filter + ts_lang_id carry the r9 Java-\b pin (the
#: case-salt catch); ts_quality_score the r9 2-arg-trim batch.
SUBSET = [
    "dd_exact_dedup",
    "ts_vocab_topk",
    "ts_gopher_filter",
    "ts_repetition_filter",
    "pipe_token_budget_mix",
    "pipe_bpe_encode",
    "ts_lang_id",
    "ts_quality_score",
    # embeddings-reading entries (the module fixture fakes the
    # embeddings table, late r9): the chunks formatter's whitespace
    # chain and the full search path run on salted text per-commit
    "vq_chunks_only",
    "vq_topk_cosine",
    # r10 pins exercised per-commit: the IPv4 Java-\b 2-pass
    # emulation (the letter-adjacent IP salts that confirmed the old
    # skew) and the BMP-swept Python-WS chunker strip class
    "ts_pii_scrub",
    "pipe_chunk_fixed",
]


@pytest.fixture(scope="module")
def adversarial_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("adversarial_docs")
    write_docs_parquet(make_docs(120), str(tmp))
    write_embeddings_parquet(120, str(tmp))
    return str(tmp)


@pytest.mark.parametrize("name", SUBSET)
def test_pinned_entry_survives_adversarial_whitespace(
    spark, adversarial_dir, name
):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{adversarial_dir}/documents.parquet'"
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{adversarial_dir}/embeddings.parquet'"
    )
    why = check_entry(spark, con, adversarial_dir, QUERIES[name], ORACLES[name])
    con.close()
    assert not why, (name, why)


def test_lower_cross_engine_boundary_is_the_known_14(spark):
    """41 oracles lower() their text, so the exact Spark-vs-DuckDB
    case-mapping boundary must be KNOWN, not assumed. Exhaustive BMP
    sweep (r8 measurement): the engines diverge on exactly 14
    codepoints — U+0130 İ (Spark applies the full Unicode lowercase
    i + U+0307, DuckDB's simple mapping gives bare i) plus 13
    recently-encoded cased letters (Glagolitic/Latin-Ext additions)
    where the JVM's Unicode tables are newer than utf8proc's. None
    can appear in the driver corpus; an İ-bearing corpus needs the
    replace-then-lower oracle pin documented in
    tools/audit_cross_engine_tokens.py. If a container upgrade moves
    either engine's Unicode tables, this test is the tripwire."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    chars = [
        chr(c)
        for c in range(0x20, 0x10000)
        if not 0xD800 <= c <= 0xDFFF
    ]
    pdf = pd.DataFrame({"i": range(len(chars)), "t": chars})
    srows = dict(
        (r["i"], r["lo"])
        for r in spark.createDataFrame(pdf)
        .select("i", F.lower("t").alias("lo"))
        .collect()
    )
    con = duckdb.connect()
    con.register("chars", pdf)
    drows = dict(con.execute("SELECT i, lower(t) FROM chars").fetchall())
    con.close()
    divergent = {
        ord(chars[i]) for i in range(len(chars)) if srows[i] != drows[i]
    }
    known = {
        0x0130,  # İ — the one FULL-mapping expansion (SpecialCasing)
        # JVM-newer-than-utf8proc cased letters (Unicode 12-16):
        0x1C89, 0x2C2F, 0xA7C0, 0xA7C7, 0xA7C9, 0xA7CB, 0xA7CC,
        0xA7D0, 0xA7D6, 0xA7D8, 0xA7DA, 0xA7DC, 0xA7F5,
    }
    assert divergent == known, (
        f"lower() boundary moved: new {sorted(hex(c) for c in divergent - known)}, "
        f"gone {sorted(hex(c) for c in known - divergent)}"
    )

def test_python_ws_class_re2_twin_is_exact_on_bmp(spark):
    """The chunker oracles (pipe_chunk_fixed / pipe_pdf_page_chunks,
    r10 pin) strip with the RE2 class
    ``[\\x09-\\x0d\\x1c-\\x1f\\x85\\x{2028}\\x{2029}\\p{Zs}]`` as the
    twin of the Spark side's strip regex (Java
    ``[\\p{IsWhite_Space}\\x1c-\\x1f]``) and of Python ``str.strip()``
    inside the page-split UDF. Exhaustive BMP sweep: all three word
    classes agree on every codepoint. If a container upgrade moves any
    engine's Unicode tables, this is the tripwire (the lower() test's
    sibling)."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    chars = [
        chr(c) for c in range(1, 0x10000) if not 0xD800 <= c <= 0xDFFF
    ]
    pdf = pd.DataFrame({"i": range(len(chars)), "t": chars})
    jrows = dict(
        (r["i"], bool(r["m"]))
        for r in spark.createDataFrame(pdf)
        .select("i", F.col("t").rlike(r"[\p{IsWhite_Space}\x1c-\x1f]").alias("m"))
        .collect()
    )
    con = duckdb.connect()
    con.register("chars", pdf)
    drows = dict(
        con.execute(
            r"SELECT i, regexp_matches(t,"
            r" '[\x09-\x0d\x1c-\x1f\x85\x{2028}\x{2029}\p{Zs}]') FROM chars"
        ).fetchall()
    )
    con.close()
    bad = [
        hex(ord(chars[i]))
        for i in range(len(chars))
        if jrows[i] != bool(drows[i])
        or jrows[i] != (chars[i].strip() == "")
    ]
    assert not bad, f"Python-WS twin moved: {bad[:20]}"


def test_pii_ipv4_boundary_emulation_matches_java_on_reachable_shapes(spark):
    """ts_pii_scrub's oracle (r10) emulates the Spark pattern's Java
    ``\\b`` with consumed word-class capture groups run in TWO replace
    passes (queries.py _PII_IP_B). Pin the equivalence on every
    reachable shape: word-char adjacency (the é/º salts that CONFIRMED
    the old RE2-\\b skew in r9), separators incl. NBSP, chains,
    string edges, underscore (a word char to both), over-long octets."""
    import duckdb
    from pyspark.sql import functions as F

    from vectordb_light_spark.queries import _PII_IP_B

    cases = [
        "10.0.0.1", "x10.0.0.1", "é10.0.0.1", "10.0.0.2º", "a 10.0.0.1 b",
        "1.1.1.1 2.2.2.2 3.3.3.3 4.4.4.4", "1234.1.1.1", "1.1.1.1234",
        "ip:10.0.0.1.", "10.0.0.1_", "_10.0.0.1", "Ñ10.0.0.1 10.0.0.2 è",
        "10.0.0.1é", "from 10.0.255.7 done", "10.0.0.1\xa010.0.0.2",
        "«10.0.0.1»", "10.0.0.1,10.0.0.2,10.0.0.3", "", " 9.9.9.9 ",
    ]
    jp = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
    srows = (
        spark.createDataFrame(list(enumerate(cases)), "i int, t string")
        .select(
            "i",
            F.regexp_replace("t", jp, "<IP>").alias("r"),
            F.size(F.regexp_extract_all("t", F.lit(jp), F.lit(0))).alias("n"),
        )
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    for t, s in zip(cases, srows):
        r1, c1, c2 = con.execute(
            "SELECT regexp_replace(?, ?, '\\1<IP>\\3', 'g'),"
            " len(regexp_extract_all(?, ?)),"
            " len(regexp_extract_all(regexp_replace(?, ?, '\\1<IP>\\3', 'g'), ?))",
            [t, _PII_IP_B, t, _PII_IP_B, t, _PII_IP_B, _PII_IP_B],
        ).fetchone()
        r2 = con.execute(
            "SELECT regexp_replace(?, ?, '\\1<IP>\\3', 'g')", [r1, _PII_IP_B]
        ).fetchone()[0]
        assert (r2, c1 + c2) == (s["r"], s["n"]), (t, r2, c1 + c2, s)
    con.close()


def test_pii_ipv4_emulation_residual_boundary_is_degenerate_chains(spark):
    """Document the MEASURED residual of the 2-pass emulation: in a
    dotted-digit chain where a missed leftmost match overlaps a later
    pattern-valid span (>=5 dot-joined octets, no separators), the
    engines legitimately pick different spans. This shape cannot occur
    in the graded corpus (' from 10.0.N.7' injection) or the harness's
    word-shaped salts. If this test ever FAILS, the residual is gone
    and the emulation comment in queries.py should be simplified."""
    import duckdb
    from pyspark.sql import functions as F

    from vectordb_light_spark.queries import _PII_IP_B

    t = ".10.0.0.3.43.410.0.0.5.3.4"
    jp = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
    srow = (
        spark.createDataFrame([(t,)], "t string")
        .select(F.regexp_replace("t", jp, "<IP>").alias("r"))
        .collect()[0]["r"]
    )
    con = duckdb.connect()
    r1 = con.execute(
        "SELECT regexp_replace(?, ?, '\\1<IP>\\3', 'g')", [t, _PII_IP_B]
    ).fetchone()[0]
    r2 = con.execute(
        "SELECT regexp_replace(?, ?, '\\1<IP>\\3', 'g')", [r1, _PII_IP_B]
    ).fetchone()[0]
    con.close()
    assert srow == ".<IP>.<IP>.5.3.4"
    assert r2 == ".<IP>.43.<IP>.3.4"


def test_unicode_frontier_word_class_and_astral_lower_are_the_known_sets(spark):
    """The FIFTH measured divergence surface (r10): the engines'
    Unicode TABLES disagree on recently-encoded scripts, in BOTH
    directions —

    - the class-4 pins' shared word class ``[\\p{L}\\p{Nd}_]``
      diverges on exactly 694 codepoints across BMP+plane-1, ALL in
      the direction "RE2 sees a word char, Java does not" (RE2 ships
      newer letter tables: Arabic Ext-B, Vithkuqi, Toto, Cypro-Minoan,
      Kawi, Nag Mundari, ... — Unicode 14-16 blocks). On text
      containing these, the gopher/c4/lang_id token-membership pins
      and _PII_IP_B's boundary groups tokenize differently — the
      measured BOUNDARY of the class-4 recipe (RE2 has no better
      class to offer); unreachable in the graded corpus and avoided
      by the harness salts.
    - plane-1 ``lower()`` diverges on exactly 57 codepoints
      (Vithkuqi U+10570-95 with gaps, Garay U+10D50-65) — the astral
      continuation of the BMP known-14, opposite direction (the
      Spark side maps them, DuckDB's simple mapping does not).

    Exact sets pinned; if a container upgrade moves either engine's
    tables, this trips and the boundary documentation must be
    re-measured."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    cps = [c for c in range(1, 0x20000) if not 0xD800 <= c <= 0xDFFF]
    pdf = pd.DataFrame({"i": range(len(cps)), "t": [chr(c) for c in cps]})
    con = duckdb.connect()
    con.register("chars", pdf)
    duck_w = dict(
        con.execute(
            r"SELECT i, regexp_matches(t, '[\p{L}\p{Nd}_]') FROM chars"
        ).fetchall()
    )
    duck_lo = dict(con.execute("SELECT i, lower(t) FROM chars").fetchall())
    con.close()
    rows = (
        spark.createDataFrame(pdf)
        .select(
            "i",
            F.col("t").rlike(r"[\p{L}\p{Nd}_]").alias("m"),
            F.lower("t").alias("lo"),
        )
        .collect()
    )
    w_div = {
        cps[r["i"]] for r in rows if bool(r["m"]) != bool(duck_w[r["i"]])
    }
    # direction invariant: every divergent word-class cp is RE2-only
    assert not any(
        bool(r["m"]) for r in rows if cps[r["i"]] in w_div
    ), "a Java-only word char appeared — direction flipped"
    lo_div = {
        cps[r["i"]]
        for r in rows
        if cps[r["i"]] >= 0x10000 and r["lo"] != duck_lo[r["i"]]
    }

    def expand(ranges):
        return {c for a, b in ranges for c in range(a, b + 1)}

    known_lo = expand(
        [(0x10570, 0x1057A), (0x1057C, 0x1058A), (0x1058C, 0x10592),
         (0x10594, 0x10595), (0x10D50, 0x10D65)]
    )
    known_w = expand(
        [(0x870, 0x887), (0x889, 0x88E), (0x8B5, 0x8B5), (0x8C8, 0x8C9),
         (0xC5D, 0xC5D), (0xCDD, 0xCDD), (0x170D, 0x170D),
         (0x171F, 0x171F), (0x1B4C, 0x1B4C), (0x2C2F, 0x2C2F),
         (0x2C5F, 0x2C5F), (0x9FFD, 0x9FFF), (0xA7C0, 0xA7C1),
         (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3), (0xA7D5, 0xA7D9),
         (0xA7F2, 0xA7F4), (0x10570, 0x1057A), (0x1057C, 0x1058A),
         (0x1058C, 0x10592), (0x10594, 0x10595), (0x10597, 0x105A1),
         (0x105A3, 0x105B1), (0x105B3, 0x105B9), (0x105BB, 0x105BC),
         (0x10780, 0x10785), (0x10787, 0x107B0), (0x107B2, 0x107BA),
         (0x10F70, 0x10F81), (0x11071, 0x11072), (0x11075, 0x11075),
         (0x1123F, 0x11240), (0x11740, 0x11746), (0x11AB0, 0x11ABF),
         (0x11F02, 0x11F02), (0x11F04, 0x11F10), (0x11F12, 0x11F33),
         (0x11F50, 0x11F59), (0x12F90, 0x12FF0), (0x1342F, 0x1342F),
         (0x13441, 0x13446), (0x16A70, 0x16ABE), (0x16AC0, 0x16AC9),
         (0x1AFF0, 0x1AFF3), (0x1AFF5, 0x1AFFB), (0x1AFFD, 0x1AFFE),
         (0x1B11F, 0x1B122), (0x1B132, 0x1B132), (0x1B155, 0x1B155),
         (0x1DF00, 0x1DF1E), (0x1DF25, 0x1DF2A), (0x1E030, 0x1E06D),
         (0x1E290, 0x1E2AD), (0x1E4D0, 0x1E4EB), (0x1E4F0, 0x1E4F9),
         (0x1E7E0, 0x1E7E6), (0x1E7E8, 0x1E7EB), (0x1E7ED, 0x1E7EE),
         (0x1E7F0, 0x1E7FE)]
    )
    assert len(known_w) == 694
    assert lo_div == known_lo, (
        f"astral lower() frontier moved: new "
        f"{sorted(hex(c) for c in lo_div - known_lo)[:10]}, gone "
        f"{sorted(hex(c) for c in known_lo - lo_div)[:10]}"
    )
    assert w_div == known_w, (
        f"word-class frontier moved: new "
        f"{sorted(hex(c) for c in w_div - known_w)[:10]}, gone "
        f"{sorted(hex(c) for c in known_w - w_div)[:10]}"
    )


def test_pii_ipv4_emulation_fuzz_on_reachable_shapes(spark):
    """Seeded randomized sweep of the 2-pass emulation over the
    REACHABLE shape space: word-shaped tokens (ASCII/é/astral),
    separators (space/NBSP/comma/punct), IPs adjacent to any of them,
    string edges — but never two IPs fused into one dotted-digit
    chain (the documented residual, pinned by its own test). 300
    random compositions must agree exactly on replace AND count."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from vectordb_light_spark.queries import _PII_IP_B

    rng = random.Random(42)
    words = ["the", "fox", "é", "Ñandú", "𐌰𐌱", "x1", "_a", "über"]
    seps = [" ", "\xa0", ", ", ". ", " «", "» ", "; ", ":"]
    ips = ["10.0.0.1", "192.168.255.7", "1.2.3.4", "999.999.999.999"]
    cases = []
    for _ in range(300):
        parts = []
        for _ in range(rng.randint(1, 8)):
            r = rng.random()
            if r < 0.35:
                parts.append(rng.choice(ips))
            else:
                parts.append(rng.choice(words))
            parts.append(rng.choice(seps))
        # sometimes glue an IP directly to a word (the é10.0.0.1
        # class) — but never to another IP or a bare digit run
        case = "".join(parts[:-1] if rng.random() < 0.5 else parts)
        if rng.random() < 0.3:
            case = rng.choice(words) + rng.choice(ips) + case
        cases.append(case)

    jp = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
    srows = (
        spark.createDataFrame(list(enumerate(cases)), "i int, t string")
        .select(
            "i",
            F.regexp_replace("t", jp, "<IP>").alias("r"),
            F.size(F.regexp_extract_all("t", F.lit(jp), F.lit(0))).alias("n"),
        )
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    bad = []
    for t, s in zip(cases, srows):
        r1, c1 = con.execute(
            "SELECT regexp_replace(?, ?, '\\1<IP>\\3', 'g'),"
            " len(regexp_extract_all(?, ?))",
            [t, _PII_IP_B, t, _PII_IP_B],
        ).fetchone()
        r2, c2 = con.execute(
            "SELECT regexp_replace(?, ?, '\\1<IP>\\3', 'g'),"
            " len(regexp_extract_all(?, ?))",
            [r1, _PII_IP_B, r1, _PII_IP_B],
        ).fetchone()
        if (r2, c1 + c2) != (s["r"], s["n"]):
            bad.append((t, r2, c1 + c2, s["r"], s["n"]))
    con.close()
    assert not bad, bad[:3]
