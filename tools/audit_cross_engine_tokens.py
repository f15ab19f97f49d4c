"""Inventory of latent cross-engine tokenization skew (r8 -> r10;
COMPLETE as of r10 — the inventory reads 0 and this tool is now the
REGRESSION detector: any future oracle edit that reintroduces a bare
``\\s``, 1-arg trim, or regex ``\\b`` shows up here and in the
adversarial harness).

Divergence classes the r8/r9 property tests pinned down:

1. bare ``\\s`` in a DuckDB oracle regex: RE2 ``\\s`` lacks \\x0B,
   Java ``\\s`` has it -> Spark/DuckDB token streams differ on text
   containing a vertical tab. Fix = the shared explicit class
   ``PINNED_WS_RE`` on BOTH sides (done in r8 for the six
   ngram/BPE-path entries).
2. 1-arg ``trim(expr)`` in an oracle: DuckDB strips the Unicode
   SPACE class (NBSP, thin space, ...), Spark's ``trim`` strips only
   ASCII space -> leading/trailing NBSP diverges. Fix =
   ``trim(expr, ' ')`` on the DuckDB side (done in r8 for the same
   six entries).

4. ``\\b`` in an oracle regex: Java's ``\\b`` word class is
   Unicode-aware (``Character.isLetterOrDigit`` plus ``_``) while
   RE2's is ASCII ``[0-9A-Za-z_]`` -> ``'\\band\\b'`` fires inside
   "Ñandú" on DuckDB but not on Spark (r9 case-salted adversarial
   harness catch, confirmed live on ts_gopher_filter). RE2 has no
   lookaround, so the pin is structural: split on maximal non-word
   runs with the JAVA word class
   (``regexp_split_to_array(e, '[^\\p{L}\\p{Nd}_]+')``) and test/count
   token membership — exact whenever the needle is all word chars
   (done in r9 for ts_gopher_filter / ts_c4_filter / ts_lang_id;
   equivalence probe in CHANGELOG r9).

All classes are invisible on the ASCII single-line driver corpus —
every oracle is hash-green today — but bite on real text. This tool
prints the remaining sites per registry entry; tier-1
(tests/test_oracle_sql.py) fails on any flagged entry that is not
PARTIALLY_PINNED. Pure-Python: no Spark session.

A third, MEASURED (not latent) boundary is case mapping: Spark's
``lower`` applies the full Unicode mapping while DuckDB's is simple
1:1, and the exhaustive r8 BMP sweep
(tests/test_adversarial_oracles.py
``test_lower_cross_engine_boundary_is_the_known_14``) pins the
divergence to exactly 14 codepoints — U+0130 İ (→ ``i`` + U+0307 on
Spark, bare ``i`` on DuckDB) plus 13 rare cased letters where the
JVM's Unicode tables are newer than utf8proc's. No oracle uses
``upper``. For an İ-bearing corpus the oracle-side pin is
replace-then-lower: ``lower(replace(e, chr(304), 'i' || chr(775)))``;
not applied anywhere because the driver corpus cannot contain these
codepoints and the rewrite would obscure 41 oracles for a
one-codepoint case.

A fifth MEASURED surface (r10): the engines' Unicode TABLES disagree
on recently-encoded scripts, in both directions. The class-4 word
class ``[\\p{L}\\p{Nd}_]`` diverges on exactly 694 BMP+plane-1
codepoints (all "RE2 sees a word char, Java does not" — RE2 ships
newer letter tables: Arabic Ext-B, Vithkuqi, Toto, Kawi, Nag
Mundari, ...), and plane-1 ``lower()`` diverges on exactly 57
(Vithkuqi/Garay — the astral continuation of the known-14, opposite
direction). These are the measured BOUNDARY of the class-4 structural
pins — RE2 has no older-table class to offer — unreachable in the
graded corpus and avoided by the harness salts; the exact sets are
pinned by tests/test_adversarial_oracles.py::
test_unicode_frontier_word_class_and_astral_lower_are_the_known_sets.

Static-analysis limits (why the end-to-end harness exists): the
trim regex matches one paren level, so a 1-arg trim wrapped around
a deeply nested expression escapes this audit —
tools/adversarial_oracle_check.py caught exactly such a miss in
pipe_bpe_encode's ltrim (r8).

    python tools/audit_cross_engine_tokens.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# ORACLES maps name -> SQL without needing a SparkSession: the query
# CALLABLES are lazy, and registration only stores strings.
from vectordb_light_spark.queries import ORACLES  # noqa: E402

#: trim( / ltrim( / rtrim( call heads; the argument list is walked
#: with a paren-aware scanner (not a regex — the one-level-deep regex
#: this replaced MISSED pipe_bpe_encode's ltrim around a nested
#: replace chain; the adversarial harness caught it at runtime in r8).
_TRIM_HEAD_RE = re.compile(r"\b([lr]?trim)\(", re.I)
_BARE_WS_RE = re.compile(r"\\s")
#: a regex-\b inside a string literal of the oracle SQL (class 4).
#: The SQL text carries the two characters backslash+b; Python's own
#: \b word-boundary in THIS pattern would match everywhere, hence the
#: escaped literal.
_WORD_BOUNDARY_RE = re.compile(r"\\b")


def _one_arg_trims(sql: str) -> list[str]:
    """Every [lr]trim(...) call in ``sql`` whose argument list has
    exactly ONE top-level argument (no explicit char set), with fully
    balanced parens at any nesting depth."""
    out = []
    for m in _TRIM_HEAD_RE.finditer(sql):
        depth, args, i = 1, 1, m.end()
        while i < len(sql) and depth:
            ch = sql[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "'":  # skip string literals ('' = escaped quote)
                i += 1
                while i < len(sql) and sql[i] != "'":
                    i += 1
            elif ch == "," and depth == 1:
                args += 1
            i += 1
        if depth == 0 and args == 1:
            out.append(" ".join(sql[m.start():i].split()))
    return out


def _strip_sql_comments(sql: str) -> str:
    """Remove ``-- ...`` line comments, treating ``--`` inside a
    single-quoted literal ('' = escaped quote) as content."""
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            while i < n and sql[i] != "\n":
                i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def audit() -> dict[str, dict[str, list[str]]]:
    out: dict[str, dict[str, list[str]]] = {}
    for name, sql in ORACLES.items():
        if not isinstance(sql, str):
            continue
        # strip SQL line comments OUTSIDE string literals: a
        # '-- Java \b ...' explainer must not read as a flagged
        # site, while vq_rag_prompt's literal '---' separators must
        # survive (a naive regex strip truncated exactly those lines
        # — r9 self-review catch)
        sql = _strip_sql_comments(sql)
        bare_ws = sorted(
            {m.strip() for m in re.findall(r".{0,40}\\s.{0,12}", sql)}
        ) if _BARE_WS_RE.search(sql) else []
        # full call texts — _suggest needs the balanced call; display
        # truncation happens at PRINT time only (a [:120] here made
        # long nested trims un-suggestable, found by r8 review)
        trims = sorted(set(_one_arg_trims(sql)))
        word_bounds = sorted(
            {m.strip() for m in re.findall(r".{0,36}\\b.{0,16}", sql)}
        ) if _WORD_BOUNDARY_RE.search(sql) else []
        if bare_ws or trims or word_bounds:
            out[name] = {
                "bare_ws": bare_ws,
                "one_arg_trim": trims,
                "word_boundary": word_bounds,
            }
    return out


def _sub_pinned_ws(site: str) -> str:
    """Replace each ``\\s`` token with the pinned spelling, aware of
    bracket context: inside an existing character class the chars
    splice in BARE (``[^\\w\\s]`` -> ``[^\\w \\t\\n\\x0B\\f\\r]``);
    outside, they get their own class. A naive global sub would emit
    the invalid nested form ``[^\\w[ ...]]`` (found by r8 review)."""
    out, i, depth = [], 0, 0
    while i < len(site):
        if site[i] == "[" and not (i and site[i - 1] == "\\"):
            depth += 1
            out.append(site[i])
        elif site[i] == "]" and not (i and site[i - 1] == "\\"):
            depth = max(0, depth - 1)
            out.append(site[i])
        elif site.startswith("\\s", i):
            out.append(
                " \\t\\n\\x0B\\f\\r" if depth else "[ \\t\\n\\x0B\\f\\r]"
            )
            i += 2
            continue
        else:
            out.append(site[i])
        i += 1
    return "".join(out)


def _suggest(site: str) -> str:
    """The pinned spelling for one flagged site — ready to paste.
    Spark-side code needs NO change for either class: Java ``\\s`` IS
    the pinned class and Spark ``trim`` IS ``trim(x, ' ')`` — the pin
    is oracle-text-only (r8 batch-1/2 precedent)."""
    out = _sub_pinned_ws(site)
    # each 1-arg trim(...) gains the explicit char-set argument (the
    # scanner only reports complete balanced 1-arg calls)
    for call in _one_arg_trims(out):
        out = out.replace(call, call[:-1] + ", ' ')")
    return out


def main() -> None:
    found = audit()
    n_ws = sum(1 for v in found.values() if v["bare_ws"])
    n_tr = sum(1 for v in found.values() if v["one_arg_trim"])
    n_wb = sum(1 for v in found.values() if v["word_boundary"])
    print(
        f"{len(found)} entries carry latent cross-engine tokenization "
        f"sites ({n_ws} with bare \\s, {n_tr} with 1-arg trim, "
        f"{n_wb} with regex \\b):\n"
    )
    def disp(s: str, n: int = 140) -> str:
        # head … tail so a long trim call still SHOWS its ", ' ')" end
        return s if len(s) <= n else s[: n - 44] + " … " + s[-40:]

    for name, v in sorted(found.items()):
        print(f"## {name}")
        for site in v["bare_ws"]:
            print(f"  \\s  ... {site}")
            print(f"      -> {_suggest(site)}")
        for site in v["one_arg_trim"]:
            print(f"  trim    {disp(site)}")
            print(f"      -> {disp(_suggest(site))}")
        for site in v["word_boundary"]:
            print(f"  \\b  ... {disp(site)}")
            print(
                "      -> no drop-in rewrite (RE2 lacks lookaround): "
                "split on '[^\\p{L}\\p{Nd}_]+' and test/count token "
                "membership (r9 gopher/c4/lang_id precedent)"
            )
        print()
    print(
        "Migration rule: tests/test_oracle_sql.py fails on every entry\n"
        "above that is not PARTIALLY_PINNED — pin its \\s sites to\n"
        "PINNED_WS_RE and its 1-arg trims to trim(expr, ' ') on both engines."
    )


if __name__ == "__main__":
    main()
