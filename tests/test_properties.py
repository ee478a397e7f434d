"""Property-based hardening of the pure kernel (hypothesis).

The reference has no randomized testing (SURVEY.md §5); these properties
back the determinism/robustness contract the golden tests assert pointwise:
arbitrary bytes never crash the kernel, same bytes always produce the same
extract, and the cleaner is idempotent (so re-running the job over already-
clean text can never change it — the writeback-twice safety the reference
handles with its `overwrite_existing` flag, config.md).
"""

from hypothesis import given, settings, strategies as st

from ankiocr_spark.kernel import extract_main_text, extract_record, extract_spans
from ankiocr_spark.textclean import clean_text

SETTINGS = dict(max_examples=60, deadline=None)

# arbitrary bytes + html-ish fragments (tags, entities, nesting, junk)
_tagish = st.sampled_from(
    ["<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<br/>",
     "<script>", "</script>", "<nav>", "</nav>", "&amp;", "&#65;", "<h1>",
     "</h1>", "<li>", "<", ">", "&", "\x00", "\n",
     # cdata-mode close-tag lookalikes: mismatched name / attributed close /
     # whitespace-and-case variants must stay raw data inside script/style
     "</scriptfoo>", "</script x>", "</ ScRiPt  >", "<style>", "</style>",
     "</stylesheet>"]
)
_textish = st.text(max_size=40)
_htmlish = st.lists(st.one_of(_tagish, _textish), max_size=30).map("".join)
_payload = st.one_of(
    st.binary(max_size=400),
    _htmlish.map(lambda s: s.encode("utf-8", errors="ignore")),
)


@given(_payload)
@settings(**SETTINGS)
def test_kernel_never_raises_and_is_deterministic(payload):
    r1 = extract_record("u", payload)
    r2 = extract_record("u", payload)
    assert r1 == r2
    assert r1["url"] == "u"
    assert r1["error"] is None or isinstance(r1["error"], str)
    if r1["error"] is None:
        assert r1["extracted_text"] == extract_main_text(payload)
        assert r1["n_chars"] == len(r1["extracted_text"])


@given(_payload)
@settings(**SETTINGS)
def test_spans_invariants(payload):
    blocks = extract_spans(payload)
    ids = [b.block_id for b in blocks]
    assert ids == sorted(ids) == list(range(len(blocks)))  # document order
    for b in blocks:
        assert 0.0 <= b.link_density <= 1.0
        assert b.n_chars == len(b.text)
        assert b.text == b.text.strip()
    # extract == clean(concat of kept blocks): spans and text modes agree
    kept = "\n".join(b.text for b in blocks if b.kept)
    assert extract_main_text(payload) == clean_text(kept)


@given(st.text(max_size=300))
@settings(**SETTINGS)
def test_clean_text_idempotent(s):
    once = clean_text(s)
    assert clean_text(once) == once
    # no blank lines, no leading/trailing space per line, no '::' runs
    if once:
        for line in once.split("\n"):
            assert line == line.strip() and line != ""
    assert "::" not in once


# Inputs aimed at the pruned-subtree skip (kernel._PRUNED_RUN) and the
# plain-tag fast path (kernel._PLAIN_TAG): quoted `</nav>` and `>` inside
# attribute values, unbalanced quotes, nested and mismatched prune tags,
# comments and marked sections, mixed case, script/style inside nav,
# whitespace the attribute grammar must not accept, truncated tags.
_PRUNE_TOKENS = (
    ["<nav>", "</nav>", "<NaV>", "</nAv >", "</ nav>", "<nav/>", "</nav x>",
     "<navx>", "</navx>", "<form>", "</form>", "<header>", "</header>",
     "<head>", "</head>", "<aside>", "</aside>", "<footer>", "</FOOTER>",
     "<title>", "</title x>", "<svg>", "</svg>", "<select>", "</select>",
     "<template>", "</template>", "<ScRiPt>", "</sCrIpT>", "<STYLE>",
     "<a title=\"</nav>\">", "<a title='x>y'>", "<div data-x=\"a>b\">",
     "<input value=\"</form>\">", "</p x=\">\">", "</a <nav>", "<a <nav>",
     "<a href=\"x>", "<a href='x>", "<a b=\"c d=\">", "\"", "'", "=",
     "<a b=c\"d>", "<a b=\"c\"d>", "<a b = \"c\">", "<a b=>", "<a b==c>",
     "<a href=x/>", "<p class=\"c\" />", "<br clear/>", "<a b='c' d>",
     "<DIV CLASS=x>", "<A HREF=x>", "</A>", "<p a='1' b=\"2\" c=3 d>",
     "<img src=\"a.png\" alt='x'/>", "<a/b>", "<a / >", "<a\x00>",
     "<li\x0b>", "<li\xa0x=1>", "<li\xa0x=\"a b\">", "<p\x0bclass='a b'>",
     "<a\tb='c'\n>", "<!--", "-->", "<!-- </nav> -->", "<![CDATA[", "]]>",
     "<![CDATA[</nav>]]>", "<!DOCTYPE html>", "<?php ?>", "<!x>", "</>",
     "</ >", "</", "<nav", "<a href=\"/x", "</na", "<di", "::", ":"]
)
_prune_tagish = st.sampled_from(_PRUNE_TOKENS)
_pruned_chunk = st.one_of(_prune_tagish, _tagish, _textish)
_pruned_region = st.tuples(
    st.sampled_from(["<nav>", "<NAV>", "<form>", "<header>", "<aside>", "<head>"]),
    st.lists(_pruned_chunk, max_size=12).map("".join),
    st.sampled_from(["</nav>", "</Nav >", "</form>", "</header>", "</aside>", ""]),
).map("".join)
_pruned_htmlish = (
    st.lists(st.one_of(_pruned_region, _pruned_chunk), min_size=1, max_size=12)
    .map("".join)
    # cut anywhere, so tags and quotes are also truncated at end of input
    .flatmap(lambda s: st.integers(0, len(s)).map(lambda k: s[:k]))
)
_pruned_payload = st.one_of(
    _pruned_htmlish.map(lambda s: s.encode("utf-8", errors="ignore")), _pruned_htmlish
)


def _assert_fast_matches_stdlib(payload):
    """The fast tokenizer must produce the same scored blocks as the
    stdlib-parser reference path, in both whitespace modes. The stdlib
    parser itself CRASHES on some malformed inputs (e.g. b'<![0' →
    AssertionError in _markupbase._scan_name); the fast path must still
    succeed there, so those inputs pass the robustness half only."""
    for preserve in (False, True):
        fast = extract_spans(payload, preserve_spaces=preserve)  # never raises
        try:
            slow = extract_spans(payload, _use_fast=False, preserve_spaces=preserve)
        except Exception:
            continue  # stdlib crashed; fast path already proved more robust
        assert fast == slow, preserve


@given(st.lists(st.one_of(st.text(max_size=30), st.text(" :\t\n\r\x0b\x85\u2028ab", max_size=30))))
@settings(**SETTINGS)
def test_colon_collapse_is_clean_text_on_normalized_blocks(raw_blocks):
    """textclean CONTRACT: on kernel-normalized block text joined with
    "\\n", clean_text reduces to the colon collapse (either mode)."""
    from ankiocr_spark.kernel import _normalize, _normalize_preserve
    from ankiocr_spark.textclean import clean_normalized_lines

    for norm in (_normalize, _normalize_preserve):
        text = "\n".join(b for b in map(norm, raw_blocks) if b)
        assert clean_normalized_lines(text) == clean_text(text)


@given(_payload)
@settings(**SETTINGS)
def test_fast_tokenizer_matches_stdlib_parser(payload):
    _assert_fast_matches_stdlib(payload)


@given(_pruned_payload)
@settings(max_examples=300, deadline=None)
def test_fast_tokenizer_matches_stdlib_in_pruned_subtrees(payload):
    _assert_fast_matches_stdlib(payload)


def test_fast_tokenizer_matches_stdlib_on_every_pruned_token():
    """Each targeted token, with text on both sides, in body text, inside
    a pruned subtree, nested inside a second prune tag, and at end of
    input — the fuzz above samples these, this pins every one."""
    for tok in _PRUNE_TOKENS:
        for doc in (
            f"<p>text before the token {tok} and text after it</p>",
            f"<nav>pruned {tok} pruned</nav><p>visible paragraph of text</p>",
            f"<nav><form>a {tok} b</nav>c</form>d</nav><p>visible text again</p>",
            f"<aside><p>x</p>{tok}",
        ):
            _assert_fast_matches_stdlib(doc)
            _assert_fast_matches_stdlib(doc.encode("utf-8"))


def _assert_text_record_matches_spans(payload):
    """The text-mode record (text, n_blocks, n_chars, error) equals text
    mode spelled out over the span path — clean_text over the kept
    blocks — in both whitespace modes."""
    for preserve in (False, True):
        r = extract_record("u", payload, preserve_spaces=preserve)
        kept = [b.text for b in extract_spans(payload, preserve_spaces=preserve) if b.kept]
        text = clean_text("\n".join(kept))
        assert (r["extracted_text"], r["n_blocks"], r["n_chars"], r["error"]) == (
            text, len(kept), len(text), None
        ), preserve


@given(st.one_of(_payload, _pruned_payload))
@settings(**SETTINGS)
def test_text_record_matches_spans_and_clean_text(payload):
    _assert_text_record_matches_spans(payload)


def test_text_record_matches_spans_and_clean_text_on_fixtures():
    from ankiocr_spark.fixtures import gen_rows

    for r in gen_rows(400, seed=11):
        if r["html"] is not None:
            _assert_text_record_matches_spans(r["html"])


def test_cdata_close_lookalikes_stay_raw():
    """Regression (round-1 ADVICE): a close tag whose name merely starts
    with the cdata element ('</scriptfoo>') or carries junk ('</script x>')
    must NOT end script/style raw-text mode — stdlib's set_cdata_mode only
    stops at the full `</\\s*elem\\s*>`. The fast path previously fired a
    phantom handle_endtag('scriptfoo'), poisoning the prune stack and
    silently dropping all following content."""
    cases = [
        b"<script>var s = '</scriptfoo>'; var t = '<style>'; </script>"
        b"<p>real paragraph long enough to clear the keep floor easily</p>",
        b"<script>a</script x>b</script>"
        b"<p>paragraph of sufficiently long body text to keep here now</p>",
        b"<style>.x{content:'</stylesheet>'}</style>"
        b"<p>another paragraph of sufficiently long body text kept too</p>",
        b"<script>x</ ScRiPt  >"
        b"<p>case and whitespace tolerant close, long enough to keep it</p>",
        b"<script>unterminated </scri",
    ]
    for payload in cases:
        fast = extract_spans(payload, _use_fast=True)
        slow = extract_spans(payload, _use_fast=False)
        assert fast == slow, payload
    # the flagship case extracts exactly the real paragraph
    texts = [b.text for b in extract_spans(cases[0]) if b.kept]
    assert texts == ["real paragraph long enough to clear the keep floor easily"]


def test_fast_tokenizer_matches_stdlib_on_fixtures():
    from ankiocr_spark.fixtures import gen_rows

    for r in gen_rows(400, seed=11):
        if r["html"] is not None:
            _assert_fast_matches_stdlib(r["html"])


# --- anchor parser properties ------------------------------------------------

def _anchor_payloads():
    anchorish = st.sampled_from(
        ['<a href="/x">', '<a href="/y">', "<a>", "</a>", '<a href="#f">',
         "<b>", "</b>", "<p>", "</p>", "text ", "  ", "&amp;", "link"]
    )
    return st.lists(st.one_of(anchorish, st.text(max_size=20)), max_size=25).map(
        "".join
    )


@given(_anchor_payloads())
@settings(**SETTINGS)
def test_anchor_pairs_never_raise_and_are_deterministic(html):
    from ankiocr_spark.links import extract_anchor_pairs, extract_links

    p1 = extract_anchor_pairs("https://e.org/base/", html)
    p2 = extract_anchor_pairs("https://e.org/base/", html)
    assert p1 == p2
    # every emitted pair resolves and has normalized whitespace
    for target, anchor in p1:
        assert target.startswith("http")
        assert anchor == " ".join(anchor.split())
    # anchor pairs and href-only outlinks agree on the href multiset:
    # implicit close + EOF flush exist exactly so no <a href> is dropped
    hrefs = [t for _, __, t in extract_links("https://e.org/base/", html)]
    assert sorted(t for t, _ in p1) == sorted(hrefs)


# --- crawl delta / incremental split algebra ----------------------------------

def test_crawl_delta_statuses_partition_the_url_universe(spark):
    from ankiocr_spark.bucketing import crawl_delta

    old = spark.createDataFrame(
        [(f"u{i}", f"d{i % 4}") for i in range(20)], "url string, digest string"
    )
    # drop every 5th, change every 3rd survivor, add 5 fresh urls
    new = spark.createDataFrame(
        [
            (f"u{i}", f"X{i}" if i % 3 == 0 else f"d{i % 4}")
            for i in range(20)
            if i % 5 != 0
        ]
        + [(f"n{i}", "nd") for i in range(5)],
        "url string, digest string",
    )
    rows = crawl_delta(old, new).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], set()).add(r["url"])
    all_urls = {r["url"] for r in rows}
    # statuses partition old ∪ new exactly
    assert all_urls == {f"u{i}" for i in range(20)} | {f"n{i}" for i in range(5)}
    assert sum(len(v) for v in by_status.values()) == len(all_urls)
    assert by_status["removed"] == {f"u{i}" for i in range(20) if i % 5 == 0}
    assert by_status["added"] == {f"n{i}" for i in range(5)}
    assert by_status["changed"] == {
        f"u{i}" for i in range(20) if i % 5 != 0 and i % 3 == 0
    }


def test_incremental_split_with_empty_delta_runs_no_kernel_input(spark):
    """All-unchanged re-crawl: to_extract is EMPTY and the carried-forward
    rows alone reproduce the snapshot (the cheapest possible re-crawl)."""
    from pyspark.sql import functions as F

    from ankiocr_spark.bucketing import split_incremental

    pages = spark.createDataFrame(
        [(f"u{i}", f"<p>body {i}</p>".encode()) for i in range(10)],
        "url string, html binary",
    )
    old = pages.select(
        "url",
        F.md5("html").alias("digest"),
        F.concat(F.lit("text "), "url").alias("extracted_text"),
    )
    reuse, to_extract = split_incremental(old, pages)
    assert to_extract.count() == 0
    got = {r["url"]: r["extracted_text"] for r in reuse.collect()}
    assert got == {f"u{i}": f"text u{i}" for i in range(10)}
