"""Property-based tests (hypothesis) for the parity-critical invariants.

The north rule's byte-identity requirement must hold on ARBITRARY text,
not just fixtures: for any input, every record predict() emits satisfies
``text[char_start:char_end] == token`` (word level covers the whole
text's non-space content; entity surfaces are exact slices)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from kgkit.ner_core import predict
from kgkit.ner_core.schemes import convert_scheme, fix_scheme

# text alphabet mixes ascii words, gazetteer aliases, CJK, punctuation,
# emoji and runs of whitespace — the restore_unknown_tokens hot paths
_tokens = st.sampled_from([
    "spark", "join", "hash", "merge", "table", "scan", "the", "a",
    "x", "yz", "Q5", "1.5", "...", "(", ")", ",", "!",
    "懿貴妃", "동대", "í", "ü", "✓", "\U0001F600",
])
_texts = st.lists(_tokens, min_size=0, max_size=12).map(" ".join)


class TestByteIdentityProperty:
    @settings(max_examples=200, deadline=None)
    @given(_texts)
    def test_word_level_offsets_slice_back(self, text):
        [records] = predict(text, level="word")
        for r in records:
            cs, ce = int(r["char_start"]), int(r["char_end"])
            assert text[cs:ce] == r["token"], (text, r)

    @settings(max_examples=200, deadline=None)
    @given(_texts)
    def test_entity_level_offsets_slice_back(self, text):
        [records] = predict(text, level="entity", autocorrect=True)
        for r in records:
            cs, ce = int(r["char_start"]), int(r["char_end"])
            assert text[cs:ce] == r["token"], (text, r)

    @settings(max_examples=200, deadline=None)
    @given(_texts)
    def test_word_level_partitions_nonspace_text(self, text):
        """Word records are ordered, non-overlapping, and cover every
        non-space character exactly once (punctuation splits into its
        own records, like the reference's HF pre-tokenizer)."""
        [records] = predict(text, level="word")
        covered = []
        prev_end = -1
        for r in records:
            cs, ce = int(r["char_start"]), int(r["char_end"])
            assert cs >= prev_end, (text, records)
            prev_end = ce
            covered.extend(range(cs, ce))
        nonspace = [i for i, ch in enumerate(text) if not ch.isspace()]
        assert covered == nonspace, (text, records)


_plain = st.lists(
    st.sampled_from(["O", "PER", "ORG"]), min_size=0, max_size=10
)


class TestSchemeProperties:
    @settings(max_examples=300, deadline=None)
    @given(_plain)
    def test_plain_bio_roundtrip(self, tags):
        assert convert_scheme(
            convert_scheme(tags, "plain", "bio"), "bio", "plain"
        ) == list(tags)

    @settings(max_examples=300, deadline=None)
    @given(_plain)
    def test_plain_bilou_roundtrip(self, tags):
        assert convert_scheme(
            convert_scheme(tags, "plain", "bilou"), "bilou", "plain"
        ) == list(tags)

    @settings(max_examples=300, deadline=None)
    @given(_plain)
    def test_fix_scheme_idempotent_on_valid(self, tags):
        bio = convert_scheme(tags, "plain", "bio")
        fixed, abidance = fix_scheme(bio, "bio")
        assert fixed == bio and abidance == 1.0
        bilou = convert_scheme(tags, "plain", "bilou")
        fixed, abidance = fix_scheme(bilou, "bilou")
        assert fixed == bilou and abidance == 1.0


class TestUrlProperties:
    """canonicalize_url is a total, idempotent normalizer."""

    @settings(max_examples=400, deadline=None)
    @given(st.text(max_size=120))
    def test_total_and_idempotent_on_arbitrary_text(self, s):
        from kgkit.operators.urls import canonicalize_url

        out = canonicalize_url(s)  # never raises
        if out is not None:
            assert out.startswith(("http://", "https://"))
            assert canonicalize_url(out) == out  # fixpoint

    @settings(max_examples=300, deadline=None)
    @given(
        st.sampled_from(["http", "https", "HTTP"]),
        st.from_regex(r"[A-Za-z0-9.-]{1,20}", fullmatch=True),
        st.from_regex(r"(/[A-Za-z0-9._~-]{0,10}){0,3}", fullmatch=True),
        st.lists(
            st.tuples(st.from_regex(r"[a-z_]{1,8}", fullmatch=True),
                      st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True)),
            max_size=4,
        ),
    )
    def test_structured_urls_idempotent(self, scheme, host, path, params):
        from kgkit.operators.urls import canonicalize_url

        q = "&".join(f"{k}={v}" for k, v in params)
        url = f"{scheme}://{host}{path}" + (f"?{q}" if q else "")
        out = canonicalize_url(url)
        if out is not None:
            assert canonicalize_url(out) == out


class TestRobotsProperties:
    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=300), st.text(max_size=60))
    def test_parser_and_decision_are_total(self, body, path):
        from kgkit.operators.urls import RobotsRules

        assert RobotsRules(body).allowed(path) in (True, False)


class TestWarcProperties:
    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=600))
    def test_parser_is_total_on_arbitrary_bytes(self, data):
        from kgkit.sources.warc import parse_warc_bytes

        recs = parse_warc_bytes(data)  # never raises
        assert isinstance(recs, list)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(
        st.tuples(st.from_regex(r"http://[a-z]{1,8}\.com/[a-z0-9]{0,6}",
                                fullmatch=True),
                  st.binary(max_size=80)),
        min_size=1, max_size=4,
    ))
    def test_roundtrip_arbitrary_payloads(self, recs):
        import os
        import tempfile

        from kgkit.sources.warc import parse_warc_bytes, write_warc

        fd, p = tempfile.mkstemp(suffix=".warc")
        try:
            os.close(fd)
            write_warc([{"url": u, "body": b} for u, b in recs], p)
            back = parse_warc_bytes(open(p, "rb").read())
            assert [(r["url"], r["payload"]) for r in back] == recs
        finally:
            os.unlink(p)
