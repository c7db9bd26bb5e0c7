"""Ethereum ABI decode kernels (reference D1/D2, SURVEY §2.10).

The reference decodes OpenSea Wyvern trades row-by-row in pandas with
web3 (`decode_utls.py:69-97` OrdersMatched log → price;
`decode_utls.py:186-200` atomicMatch_ calldata → payment token).
Both events have FIXED ABI layouts, so the decode is deterministic
hex slicing — no web3 dependency, no per-row codec object:

- ``OrdersMatched(bytes32 buyHash, bytes32 sellHash, address indexed
  maker, address indexed taker, uint256 price, bytes32 indexed
  metadata)``: the non-indexed fields land in ``data`` as three
  32-byte words → price is word 2 (0-based), i.e. hex chars
  [2+128, 2+192). Reference divides by 1e18 (`decode_utls.py:97`).
- ``atomicMatch_(address[14] addrs, ...)``: calldata is a 4-byte
  selector (0xab834bab) + head words; a fixed-size address array is
  inlined, so ``addrs[6]`` is head word 6 → the last 40 hex chars of
  chars [10+6*64, 10+7*64). Reference lowercases it
  (`decode_utls.py:193-194`) and returns an ``<error> ...`` sentinel
  string on failure (`decode_utls.py:196-200`).

Spark-first shape: plain Catalyst column expressions (substring,
rlike, startswith, lower), so the decode runs inside the JVM's
whole-stage pipeline and a query that decodes starts no Python
worker. The reference's per-row ``df.apply`` + web3 codec, and the
executor-side codec cache it needs (`decode_utls.py:174-184`), have
no counterpart because the layouts are static constants.

The uint256 → ETH conversion stays exact: the word is turned into its
decimal digits by ``java.math.BigInteger`` (through ``reflect`` on
commons-lang3's ``NumberUtils.createBigInteger``, which is on Spark's
classpath) and the string ``<digits>e-18`` is cast to double. Java's
decimal parse rounds correctly, so the result is the double nearest
to word / 10**18 — bit-identical to Python's ``int(word, 16) / 10**18``
over the whole 256-bit range (pinned by tests/test_decode_kernels.py).
Catalyst treats ``reflect`` as nondeterministic, so a filter placed
above the price projection is not pushed below it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ORDERS_MATCHED_TOPIC = "0xc4109843"  # decode_utls.py:111 prefix filter
ATOMIC_MATCH_SELECTOR = "0xab834bab"  # decode_utls.py:218 prefix filter

_WORD = 64  # hex chars per 32-byte ABI word

# sentinel contract (reference: '<error> decoding error: <exc>',
# decode_utls.py:198-200; deterministic message here)
DECODE_ERROR = "<error> decoding error"


def _hex_word(hexstr: Column, start: int, index: int) -> Column:
    """ABI word ``index`` of a hex string whose words begin at 0-based
    char ``start``; shorter (or empty) when the string is truncated."""
    return F.substring(hexstr, start + index * _WORD + 1, _WORD)


def orders_matched_price(data: Column) -> Column:
    """D1: OrdersMatched log ``data`` hex → trade price in ETH.

    price = uint256 at word 2 of the non-indexed data, / 1e18.
    Malformed rows (no 0x, short data, a non-hex word) decode to
    null — upstream filters on the topic prefix make them impossible
    in the reference pipeline, but a distributed engine must not
    crash on one bad row. The CASE guard also keeps such words away
    from the BigInteger parse, which would throw.
    """
    word = _hex_word(data, 2, 2)
    ok = data.startswith("0x") & word.rlike("^[0-9a-fA-F]{64}$")
    digits = F.reflect(
        F.lit("org.apache.commons.lang3.math.NumberUtils"),
        F.lit("createBigInteger"),
        F.concat(F.lit("0x"), word),
    )
    return F.when(ok, F.concat(digits, F.lit("e-18")).cast("double"))


def atomic_match_payment_token(input_data: Column) -> Column:
    """D2: atomicMatch_ calldata → payment-token address
    (``addrs[6]``, lowercased '0x' + 40 hex chars) or the
    ``<error>`` sentinel the reference emits on undecodable input
    (a bad selector, a truncated word 6, or null).
    """
    word6 = _hex_word(input_data, 10, 6)
    ok = input_data.startswith(ATOMIC_MATCH_SELECTOR) & (
        F.length(word6) == _WORD
    )
    address = F.substring(word6, _WORD - 40 + 1, 40)
    token = F.concat(F.lit("0x"), F.lower(address))
    return F.when(ok, token).otherwise(F.lit(DECODE_ERROR))
