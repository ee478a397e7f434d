"""Text normalization — byte-identical to the reference cleaner.

Reference: ``OCR.clean_ocr_text`` at /root/reference/src/anki_ocr/ocr.py:141-149
(strip every line, drop blank lines, rejoin with "\\n", collapse ``:+`` → ``:``).
Golden contract: /root/reference/tests/test_ocr.py:127-140.

This is the per-url byte-identical invariant of BASELINE.json:input_hint —
it is kept as a pure Python function applied inside the already-vectorized
Arrow batches (SURVEY.md §2 row 12), never as a row-at-a-time Spark UDF.
"""

from __future__ import annotations

import re

_COLON_RUN = re.compile(r":+")


def clean_text(text: str) -> str:
    """Strip lines, drop blanks, rejoin with newline, collapse colon runs.

    Semantics match /root/reference/src/anki_ocr/ocr.py:147-149 exactly:

    >>> clean_text("   one  \\n\\ntwo :: three\\n:::\\n")
    'one\\ntwo : three\\n:'
    """
    cleaned = "\n".join(line.strip() for line in text.splitlines() if line.strip() != "")
    return _COLON_RUN.sub(":", cleaned)


def clean_normalized_lines(text: str) -> str:
    """``clean_text`` for text whose lines are already stripped and
    non-empty — kernel-normalized blocks joined with "\\n" — where the
    strip and blank-line filter have nothing to do (see CONTRACT below)."""
    return _COLON_RUN.sub(":", text) if "::" in text else text


# Spark-SQL-expressible equivalent (used by oracle checks; see ops.py).
# Kept here so the Python and SQL forms live side by side and drift is caught
# by tests/test_textclean.py::test_sql_form_matches.
#
# CONTRACT: equivalent to clean_text only on text whose line breaks are
# '\n' and whose intra-line whitespace is plain spaces — i.e.
# kernel-normalized block text, the only thing the engine feeds it. On raw
# text they diverge: Python splitlines() also breaks on \r/\x0b/  and
# str.strip() eats tabs, while SQL split('\n')/trim() do not. Do NOT apply
# the SQL form to un-normalized text.
#
# The same property is why clean_normalized_lines (the colon collapse
# alone) equals clean_text on the kernel's joined kept blocks: block
# normalization turns every character str.isspace() accepts — which
# covers every line break splitlines() knows — into a space (or, with
# preserve_interword_spaces, keeps only literal spaces), then strips the
# ends, and the kernel drops empty blocks. Each block is therefore one
# line, already stripped and non-empty, and clean_text's
# split/strip/filter returns the joined text unchanged.
CLEAN_TEXT_SQL_TEMPLATE = (
    "regexp_replace("
    "  array_join(filter(transform(split({col}, '\\n'), x -> trim(x)), x -> x != ''), '\\n'),"
    "  ':+', ':')"
)
