"""Unit tests for mask classification and canonical signatures."""

from log_parser_cli_spark.functions.masking import (
    MASK_TOKENS,
    mask_word,
    signature_to_star,
)


def test_mask_classes():
    assert mask_word("12345") == MASK_TOKENS["NUM"]
    assert mask_word("-3.14") == MASK_TOKENS["NUM"]
    assert mask_word("10.0.0.1") == MASK_TOKENS["IP"]
    assert mask_word("10.0.0.1:8080") == MASK_TOKENS["IP"]
    assert mask_word("2024-01-15") == MASK_TOKENS["TS"]
    assert mask_word("2024-01-15T10:23:45") == MASK_TOKENS["TS"]
    assert mask_word("10:23:45") == MASK_TOKENS["TIME"]
    assert mask_word("0xdeadbeef") == MASK_TOKENS["HEX"]
    assert mask_word("a1b2c3d4") == MASK_TOKENS["HEX"]
    assert mask_word("/var/log/httpd") == MASK_TOKENS["PATH"]
    assert mask_word("550e8400-e29b-41d4-a716-446655440000") == MASK_TOKENS["UUID"]


def test_literals_stay_literal():
    for w in ["workers", "configured", "INFO", "chrome.exe", "deadbeef", "a+b?", "[main]", "café"]:
        assert mask_word(w) == w, w


def test_kv_and_prefix_masking():
    assert mask_word("port=8080") == f"port={MASK_TOKENS['NUM']}"
    assert mask_word("host=10.0.0.1") == f"host={MASK_TOKENS['IP']}"
    assert mask_word("mode=fast") == "mode=fast"  # literal value stays
    assert mask_word("blk_123456789") == f"blk_{MASK_TOKENS['NUM']}"


def test_signature_and_star():
    line = "client 10.0.0.7 denied at 12:00:01 port=443 blk_99"
    sig = " ".join(mask_word(w) for w in line.split(" "))
    assert signature_to_star(sig) == "client <*> denied at <*> port=<*> blk_<*>"


def test_mask_tokens_never_collide_with_real_words():
    for tok in MASK_TOKENS.values():
        assert "\x00" in tok


def test_non_ascii_digits_stay_literal():
    """An exported template's ``[A-Za-z0-9_/-]+`` cannot match ``٤٢``, so
    masking reads digits in ASCII too: a cluster never mixes ``42`` and
    ``٤٢``."""
    assert mask_word("42") == MASK_TOKENS["NUM"]
    for w in ["٤٢", "n=٤٢", "blk_٤٢", "٣.٥"]:
        assert mask_word(w) == w, w
