"""uint256 helpers (SURVEY.md §2.E2).

The reference computes on 256-bit EVM words in-circuit (UInt256Target,
e.g. query_erc20/storage/leaf.rs guards a u256 mul overflow) and packs
them as 32-bit limbs (mrp2-utils Packer). Spark's widest exact numeric is
decimal(38,0) — a 128-bit half (39 digits) does not fit — so a u256 is
carried as FOUR 64-bit limbs, most-significant first, each a decimal(20,0)
column in [0, 2⁶⁴).

Provided: hex ↔ limbs conversion, addition with carry (wraps mod 2²⁵⁶
like the EVM), comparison, and an overflow guard mirroring the circuit's
"prover must not overflow" check.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

DEC20 = DecimalType(20, 0)
N_LIMBS = 4

U256 = tuple[Column, Column, Column, Column]  # (l3, l2, l1, l0), l3 most significant


def _two64() -> Column:
    return F.lit(str(2**64)).cast(DecimalType(21, 0))


def u256_from_hex(col: Column) -> U256:
    """Split a 0x-less hex string (≤64 chars) into 4×64-bit limbs.
    conv() parses 16 hex chars exactly into an unsigned 64-bit value."""
    padded = F.lpad(F.lower(col), 64, "0")
    return tuple(
        F.conv(F.substring(padded, 1 + 16 * i, 16), 16, 10).cast(DEC20)
        for i in range(N_LIMBS)
    )


def u256_add(a: U256, b: U256) -> U256:
    """256-bit addition with per-limb carry; wraps mod 2²⁵⁶."""
    two64 = _two64()
    out: list[Column] = []
    carry: Column = F.lit(0).cast(DEC20)
    for i in range(N_LIMBS - 1, -1, -1):  # least-significant limb first
        s = a[i].cast(DecimalType(21, 0)) + b[i] + carry
        carry = F.when(s >= two64, F.lit(1)).otherwise(F.lit(0)).cast(DEC20)
        out.append((s - carry.cast(DecimalType(21, 0)) * two64).cast(DEC20))
    return tuple(reversed(out))


def u256_eq(a: U256, b: U256) -> Column:
    cond = F.lit(True)
    for x, y in zip(a, b):
        cond = cond & (x == y)
    return cond


def u256_lt(a: U256, b: U256) -> Column:
    """Lexicographic compare over most-significant-first limbs."""
    lt = F.lit(False)
    for i in range(N_LIMBS - 1, -1, -1):  # fold from least-significant up
        lt = F.when(a[i] < b[i], F.lit(True)).when(a[i] > b[i], F.lit(False)).otherwise(lt)
    return lt


def u256_add_overflows(a: U256, b: U256) -> Column:
    """True when a+b wraps past 2²⁵⁶ — the guard the circuit enforces
    (query_erc20/storage/leaf.rs:89 'ensure the prover is not trying to
    obtain invalid results by overflowing')."""
    return u256_lt(u256_add(a, b), a)


DEC38 = DecimalType(38, 0)
_B32 = 2**32


def _split32(limbs: U256) -> list[Column]:
    """4×64-bit limbs → 8×32-bit limbs, least-significant FIRST (the
    reference packs u256 values as 32-bit limbs too — mrp2-utils Packer).
    32-bit limbs keep every schoolbook partial product < 2⁶⁴, far inside
    decimal(38,0)."""
    b32 = F.lit(_B32).cast(DEC38)
    out: list[Column] = []
    for limb in reversed(limbs):  # least-significant 64-bit limb first
        wide = limb.cast(DEC38)
        lo = F.pmod(wide, b32)
        out.append(lo)
        out.append(((wide - lo) / b32).cast(DEC38))
    return out


def u256_mul(a: U256, b: U256) -> tuple[U256, Column]:
    """256-bit schoolbook multiply over 32-bit limbs. Returns
    (product mod 2²⁵⁶, overflowed) — the circuit asserts the overflow
    flag is false (query_erc20/storage/leaf.rs:88-92 mul_u256 + ensure
    no-overflow); callers here get the flag to enforce the same guard.

    Implemented as a runtime fold (`aggregate` over the 16 result
    positions with a struct accumulator): a hand-unrolled carry chain
    would duplicate the carry subtree at every level and blow the
    Catalyst expression tree up exponentially — the higher-order function
    keeps the plan constant-size and iterates at execution time."""
    b32 = F.lit(_B32).cast(DEC38)
    zero = F.lit(0).cast(DEC38)
    xs = F.array(*_split32(a))  # least-significant first
    ys = F.array(*_split32(b))

    def step(state: Column, p: Column) -> Column:
        # nb: F.sequence(8, 7) would run DESCENDING (auto step -1) and
        # index out of bounds — filter a fixed 0..7 range instead
        idxs = F.filter(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: ((p - i) >= 0) & ((p - i) <= 7),
        )
        prods = F.transform(idxs, lambda i: F.get(xs, i) * F.get(ys, p - i))
        acc = F.aggregate(prods, zero, lambda s, v: s + v) + state["carry"]
        digit = F.pmod(acc, b32)
        carry = ((acc - digit) / b32).cast(DEC38)
        return F.struct(
            F.when(p < 8, F.concat(state["digits"], F.array(digit)))
            .otherwise(state["digits"])
            .alias("digits"),
            carry.alias("carry"),
            (state["ovf"] | ((p >= 8) & (digit > zero))).alias("ovf"),
        )

    init = F.struct(
        F.array().cast("array<decimal(38,0)>").alias("digits"),
        zero.alias("carry"),
        F.lit(False).alias("ovf"),
    )
    res = F.aggregate(F.sequence(F.lit(0), F.lit(15)), init, step)
    overflow = res["ovf"] | (res["carry"] > zero)
    # reassemble 8×32 (LSB first) → 4×64 (MSB first)
    limbs64 = [
        (F.get(res["digits"], 2 * k + 1) * b32 + F.get(res["digits"], 2 * k)).cast(
            DEC20
        )
        for k in range(4)
    ]
    return tuple(reversed(limbs64)), overflow


def u256_to_hex(limbs: U256) -> Column:
    """Back to a 64-char lowercase hex string."""
    return F.concat(
        *[F.lpad(F.lower(F.conv(l.cast("string"), 10, 16)), 16, "0") for l in limbs]
    )


def u256_divmod(a: U256, b: U256) -> Column:
    """256-bit integer division. Returns ONE struct column
    `(q_hex, r_hex, div_by_zero)` — quotient and remainder as 64-char hex.

    Binary long division as a runtime fold over the 256 dividend bits
    (MSB first). Two structural rules keep it tractable:
    - iteration happens at execution time (`aggregate`), never by
      unrolling — an unrolled carry chain explodes the expression tree;
    - the dividend/divisor limb arrays ride INSIDE the fold state: HOF
      expressions get no common-subexpression elimination, so a captured
      outer array (which may itself embed a u256_mul fold) would be
      re-evaluated on every access of every step. Returning one struct
      (not per-limb columns) applies the same rule for the caller.

    On b = 0 the flag is true and q = r = 0, mirroring the circuit's
    explicit guard (query_erc20/storage/leaf.rs:93). Limb arithmetic runs
    on longs (32-bit limbs: every intermediate < 2³³ ≪ 2⁶³) — no boxed
    decimal in the loop."""
    b32 = F.lit(_B32)
    zero = F.lit(0).cast("long")
    to_long8 = lambda limbs: F.array(  # noqa: E731
        *[c.cast("long") for c in _split32(limbs)]
    )

    def shl1_plus(arr: Column, bit_in: Column) -> Column:
        # elementwise shift-left-by-1 with inter-limb carry (no chain:
        # new limb k reads only old limbs k and k-1)
        def limb(k: Column) -> Column:
            doubled = F.pmod(F.get(arr, k) * 2, b32)
            carry = F.when(k == 0, bit_in).otherwise(
                F.shiftright(F.get(arr, k - 1), 31)
            )
            return (doubled + carry).cast("long")

        return F.transform(F.sequence(F.lit(0), F.lit(7)), limb)

    def geq(arr: Column, other: Column) -> Column:
        # lexicographic >= folded least-significant-limb up
        def fold(acc: Column, k: Column) -> Column:
            return (
                F.when(F.get(arr, k) > F.get(other, k), F.lit(True))
                .when(F.get(arr, k) < F.get(other, k), F.lit(False))
                .otherwise(acc)
            )

        return F.aggregate(F.sequence(F.lit(0), F.lit(7)), F.lit(True), fold)

    def sub(arr: Column, other: Column) -> Column:
        # arr - other; borrow chain via an inner 8-limb fold
        def fold(state: Column, k: Column) -> Column:
            d = F.get(arr, k) - F.get(other, k) - state["borrow"]
            neg = d < 0
            return F.struct(
                F.concat(
                    state["out"], F.array((F.when(neg, d + b32).otherwise(d)).cast("long"))
                ).alias("out"),
                F.when(neg, F.lit(1).cast("long")).otherwise(zero).alias("borrow"),
            )

        init = F.struct(
            F.array().cast("array<long>").alias("out"), zero.alias("borrow")
        )
        return F.aggregate(F.sequence(F.lit(0), F.lit(7)), init, fold)["out"]

    def step(state: Column, i: Column) -> Column:
        # bit i from the MSB of the dividend (limbs are LSB-first)
        li = F.lit(7) - F.floor(i / 32).cast("int")
        off = F.lit(31) - F.pmod(i, F.lit(32))
        # dynamic shift: x >> off as floor(x / 2^off) — power-of-two
        # doubles are exact, and shiftright() only takes a literal count
        bit = F.pmod(
            F.floor(F.get(state["x"], li) / F.pow(F.lit(2.0), off)).cast("long"),
            F.lit(2),
        )
        r2 = shl1_plus(state["r"], bit.cast("long"))
        fits = geq(r2, state["d"])
        new_r = F.when(fits, sub(r2, state["d"])).otherwise(r2)
        new_q = shl1_plus(state["q"], F.when(fits, F.lit(1)).otherwise(F.lit(0)).cast("long"))
        return F.struct(
            state["x"].alias("x"),
            state["d"].alias("d"),
            new_r.alias("r"),
            new_q.alias("q"),
        )

    zeros8 = F.transform(F.sequence(F.lit(0), F.lit(7)), lambda _: zero)
    init = F.struct(
        to_long8(a).alias("x"), to_long8(b).alias("d"),
        zeros8.alias("r"), zeros8.alias("q"),
    )

    def finish(state: Column) -> Column:
        def hex64(arr: Column) -> Column:
            # 8×32-bit limbs LSB-first → 64-char hex, MSB first
            parts = F.transform(
                F.sequence(F.lit(7), F.lit(0), F.lit(-1)),
                lambda k: F.lpad(
                    F.lower(F.conv(F.get(arr, k).cast("string"), 10, 16)), 8, "0"
                ),
            )
            return F.array_join(parts, "")

        dz = geq(zeros8, state["d"])  # divisor == 0 ⟺ 0 >= divisor
        zero_hex = F.lit("0" * 64)
        return F.struct(
            F.when(dz, zero_hex).otherwise(hex64(state["q"])).alias("q_hex"),
            F.when(dz, zero_hex).otherwise(hex64(state["r"])).alias("r_hex"),
            dz.alias("div_by_zero"),
        )

    return F.aggregate(F.sequence(F.lit(0), F.lit(255)), init, step, finish)


def u256_divmod_small(a: U256, d: Column) -> Column:
    """256-bit ÷ small divisor (d < 2³¹) — the fast path for the ERC-20
    leaf computation, where `total_supply`-style divisors are ordinary
    integers even though balances are full EVM words.

    Schoolbook SHORT division: 16 half-limb (16-bit) steps MSB-first,
    remainder carried — O(16) long ops per row instead of the generic
    256-step binary long division (u256_divmod), a ~40× plan-cost
    reduction measured at sf0.1. Each step's `cur = rem·2¹⁶ + part`
    stays < 2⁴⁷, so the double-precision division is exact to ±1 ulp and
    one conditional correction makes the quotient digit exact.

    Returns struct (q_hex, r_hex, div_by_zero, small_ok); small_ok is
    false when d ≥ 2³¹ (caller must route those rows to u256_divmod —
    the struct holds zeros for them, like the div_by_zero guard).

    The dividend limb array and divisor ride INSIDE the fold state (the
    same rule as u256_divmod): HOF lambdas get no common-subexpression
    elimination, so capturing them from the enclosing scope would embed
    the full upstream expression (here: a whole u256_mul fold) once per
    step — 16 copies hung Catalyst outright on the ERC-20 plan."""

    def step(state: Column, i: Column) -> Column:
        x, dl = state["x"], state["d_math"]
        limb32 = F.get(x, F.lit(7) - F.floor(i / 2).cast("int"))
        part = F.when(
            F.pmod(i, F.lit(2)) == 0, F.shiftrightunsigned(limb32, 16)
        ).otherwise(limb32.bitwiseAND(F.lit(65535)))
        cur = state["rem"] * F.lit(65536) + part
        q0 = F.floor(cur / dl).cast("long")
        q1 = (
            F.when(cur - q0 * dl < 0, q0 - 1)
            .when(cur - q0 * dl >= dl, q0 + 1)
            .otherwise(q0)
        )
        return F.struct(
            x.alias("x"),
            dl.alias("d_math"),
            state["d"].alias("d"),
            F.concat(
                state["hex"],
                F.lpad(F.lower(F.conv(q1.cast("string"), 10, 16)), 4, "0"),
            ).alias("hex"),
            (cur - q1 * dl).alias("rem"),
        )

    def finish(st: Column) -> Column:
        dl = st["d"]
        dz = dl == 0
        # <= 0 (not just == 0): a NEGATIVE divisor also took the d_math
        # clamp to 1 — without this it would silently return q = a with
        # small_ok = true instead of flagging the row as out of range
        bad = (dl <= 0) | (dl >= F.lit(1 << 31))
        zero_hex = F.lit("0" * 64)
        return F.struct(
            F.when(bad, zero_hex).otherwise(st["hex"]).alias("q_hex"),
            F.when(bad, zero_hex)
            .otherwise(
                F.lpad(F.lower(F.conv(st["rem"].cast("string"), 10, 16)), 64, "0")
            )
            .alias("r_hex"),
            dz.alias("div_by_zero"),
            (~bad | dz).alias("small_ok"),
        )

    init = F.struct(
        F.array(*[c.cast("long") for c in _split32(a)]).alias("x"),
        # the in-loop division needs a nonzero divisor even on guarded
        # rows; finish() zeroes their result and raises div_by_zero
        F.when(d.cast("long") <= 0, F.lit(1).cast("long"))
        .otherwise(d.cast("long"))
        .alias("d_math"),
        d.cast("long").alias("d"),
        F.lit("").alias("hex"),
        F.lit(0).cast("long").alias("rem"),
    )
    return F.aggregate(F.sequence(F.lit(0), F.lit(15)), init, step, finish)


def u256_carry_hex(s0: Column, s1: Column, s2: Column, s3: Column) -> Column:
    """64-char hex of a u256 given FOUR PER-LIMB SUM columns (low limb
    first), each possibly exceeding 2⁶⁴ (the limb-wise aggregation
    trick: SUM each limb independently — map-side combinable — then
    carry-normalize ONCE here, mod 2²⁵⁶). Shared by A13's total fold
    (operators/euclid.erc20_weighted_sum_u256), the A29 all-owner tree
    answer (operators/range_tree.erc20_range_tree_reward) and the
    streaming reward view (the stream_erc20_rewards row of
    streaming/faces.py)."""
    two64 = F.lit(str(2**64)).cast(DEC38)
    limbs: list[Column] = []
    carry: Column = F.lit(0).cast(DEC38)
    for s in (s0, s1, s2, s3):
        t = s.cast(DEC38) + carry
        lo = F.pmod(t, two64)
        carry = ((t - lo) / two64).cast(DEC38)
        limbs.append(lo.cast(DEC20))
    return u256_to_hex(tuple(reversed(limbs)))
