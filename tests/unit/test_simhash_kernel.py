"""The SimHash kernel (operators.dedup.simhash_text) without Spark,
against a scalar reference written from the DuckDB oracle's definition
(__spark_entry__ ``doc_simhash_pairs``)."""

import hashlib
import random

from rdf_spark.operators.dedup import _TOKEN_HASHES, _token_md5, simhash_text


def _token_hash(tok: str, bits: int) -> int:
    """First bits/8 md5 bytes, big-endian."""
    return int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:bits // 8], "big")


def _reference(text, bits=64):
    toks = text.lower().split() if text is not None else []
    votes = [0] * bits
    for t in toks:
        h = _token_hash(t, bits)
        for j in range(bits):
            votes[j] += 1 if h >> j & 1 else -1
    sig = sum(1 << j for j in range(bits) if votes[j] > 0)  # strict majority; ties give 0
    return sig - (1 << 64) if sig >= 1 << 63 else sig       # signed 64-bit wrap


def test_empty_and_null_text_hash_to_zero():
    for text in ("", "  \n\t ", None):
        assert simhash_text(text) == _reference(text) == 0


def test_tie_clears_the_bit():
    # two tokens: a bit is set only where both hashes set it
    a, b = _token_hash("alpha", 64), _token_hash("beta", 64)
    want = a & b
    assert a != b and want != a
    got = simhash_text("alpha BETA")
    assert got % (1 << 64) == want and got == _reference("alpha BETA")


def test_bit_63_wraps_to_a_negative_long():
    tok = next(f"w{i}" for i in range(100) if _token_hash(f"w{i}", 64) >> 63)
    got = simhash_text(tok)
    assert got < 0 and got == _token_hash(tok, 64) - (1 << 64) == _reference(tok)


def test_32_bit_signature_is_unsigned():
    tok = next(f"w{i}" for i in range(100) if _token_hash(f"w{i}", 32) >> 31)
    assert simhash_text(tok, bits=32) == _token_hash(tok, 32) == _reference(tok, 32)
    assert simhash_text("a b a c", bits=32) == _reference("a b a c", 32)


def test_random_documents_match_the_reference():
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(40)] + ["Ünï", "中文", "T1"]
    for _ in range(300):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for bits in (64, 32):
            assert simhash_text(text, bits) == _reference(text, bits)


def test_signatures_hold_after_the_token_cache_evicts():
    doc = "alpha beta gamma alpha"
    before = simhash_text(doc)
    flood = " ".join(f"x{i}" for i in range(_TOKEN_HASHES + 100))
    simhash_text(flood)  # more distinct tokens than the cache holds
    assert _token_md5.cache_info().currsize == _TOKEN_HASHES
    assert simhash_text(doc) == before == _reference(doc)
