"""Property tests pinning the ABI decode kernels of functions/decode.py
to pure-Python references.

``orders_matched_price`` must equal ``int(word, 16) / 10**18`` — the
reference's exact uint256 → correctly-rounded double (Python's int/int
true division rounds once over the whole 256-bit range) — bit for bit,
on random words of every bit length 1..256 and on the boundary words
where a float or 64-bit shortcut would drift. Malformed input (no
``0x``, short data, a non-hex word, null) decodes to null.

``atomic_match_payment_token`` must equal the reference rule: with the
atomicMatch_ selector and a full word 6, '0x' + the lowercased last 40
hex chars of that word; otherwise the ``<error>`` sentinel.

All cases run as one DataFrame per kernel, so the whole sweep costs
one Spark job each.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from innercircle_etl_spark.functions.decode import (
    ATOMIC_MATCH_SELECTOR,
    DECODE_ERROR,
    atomic_match_payment_token,
    orders_matched_price,
)

_HEX_WORD = re.compile(r"[0-9a-fA-F]{64}")


def price_reference(data: str | None) -> float | None:
    if data is None or not data.startswith("0x"):
        return None
    word = data[2 + 128 : 2 + 192]
    if not _HEX_WORD.fullmatch(word):
        return None
    return int(word, 16) / 10**18


def token_reference(calldata: str | None) -> str:
    if calldata is None or not calldata.startswith(ATOMIC_MATCH_SELECTOR):
        return DECODE_ERROR
    word6 = calldata[10 + 6 * 64 : 10 + 7 * 64]
    if len(word6) != 64:
        return DECODE_ERROR
    return "0x" + word6[24:].lower()


def _log_data(price_word: str, rng: random.Random, tail: str = "") -> str:
    """OrdersMatched data: buyHash, sellHash, then the price word."""
    return "0x" + rng.randbytes(64).hex() + price_word + tail


def _price_cases() -> list[str | None]:
    rng = random.Random(20240501)
    words = []
    for bits in range(1, 257):
        for _ in range(8):
            # top bit set: exactly ``bits`` bits long
            v = rng.getrandbits(bits - 1) | (1 << (bits - 1))
            words.append(format(v, "064x"))
    boundaries = [
        0,
        1,
        10**18 - 1,
        10**18,
        10**18 + 1,
        2**53 - 1,
        2**53,
        2**53 + 1,
        2**63 - 1,
        2**63,
        2**64 - 1,
        2**64,
        10**38 - 1,
        10**38,
        10**38 + 1,
        2**128 - 1,
        2**255,
        2**256 - 1,
    ]
    words += [format(v, "064x") for v in boundaries]
    cases: list[str | None] = [_log_data(w, rng) for w in words]
    # uppercase hex, and a fourth word after the price (still word 2)
    cases += [_log_data(format(2**200 + 12345, "064X"), rng)]
    cases += [_log_data(format(7 * 10**18, "064x"), rng, tail="ab" * 32)]
    good = format(10**18, "064x")
    cases += [
        _log_data("zz" * 32, rng),  # right length, not hex
        _log_data(good[:-1] + "g", rng),  # one non-hex char
        _log_data(good[:-1] + "\n", rng),  # trailing newline
        _log_data(good[:-1] + "０", rng),  # fullwidth digit
        _log_data("-" + good[1:], rng),  # sign
        _log_data(" " + good[1:], rng),  # blank
        _log_data(good[:63], rng),  # short word
        _log_data("", rng),  # no price word at all
        _log_data(good, rng)[2:],  # no 0x prefix
        "0X" + _log_data(good, rng)[2:],  # uppercase prefix
        "0x",
        "",
        None,
    ]
    return cases


def _token_cases() -> list[str | None]:
    rng = random.Random(20240502)

    def calldata(selector: str, n_words: int, upper: bool = False) -> str:
        body = rng.randbytes(32 * n_words).hex()
        return selector + (body.upper() if upper else body)

    cases: list[str | None] = []
    for _ in range(200):
        cases.append(calldata(ATOMIC_MATCH_SELECTOR, 14))
        cases.append(calldata(ATOMIC_MATCH_SELECTOR, 14, upper=True))
    full = calldata(ATOMIC_MATCH_SELECTOR, 14)
    cases += [
        calldata(ATOMIC_MATCH_SELECTOR, 7),  # word 6 is the last word
        calldata(ATOMIC_MATCH_SELECTOR, 6),  # word 6 missing
        full[: 10 + 7 * 64 - 1],  # word 6 one char short
        ATOMIC_MATCH_SELECTOR,
        calldata("0xdeadbeef", 14),  # bad selector
        calldata(ATOMIC_MATCH_SELECTOR.upper(), 14),
        full[2:],  # no 0x prefix
        "",
        None,
    ]
    return cases


def test_orders_matched_price_matches_python_reference(spark):
    cases = _price_cases()
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(cases)], "i int, data string"
    ).select("i", orders_matched_price(F.col("data")).alias("p"))
    got = {r["i"]: r["p"] for r in df.collect()}
    assert len(got) == len(cases)
    for i, data in enumerate(cases):
        want = price_reference(data)
        if want is None:
            assert got[i] is None, (data, got[i])
        else:
            assert got[i] is not None, data
            # bit-identical, not approximately equal
            assert got[i].hex() == want.hex(), (data, got[i], want)
    # the sweep must exercise both branches
    assert sum(price_reference(d) is None for d in cases) >= 10


def test_atomic_match_payment_token_matches_python_reference(spark):
    cases = _token_cases()
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(cases)], "i int, input_data string"
    ).select(
        "i",
        atomic_match_payment_token(F.col("input_data")).alias("token"),
    )
    got = {r["i"]: r["token"] for r in df.collect()}
    assert len(got) == len(cases)
    for i, data in enumerate(cases):
        assert got[i] == token_reference(data), (data, got[i])
    assert sum(token_reference(d) == DECODE_ERROR for d in cases) >= 8
