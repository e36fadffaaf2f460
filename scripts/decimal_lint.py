"""Decimal scale-loss lint: walk analyzed plans for lossy arithmetic.

The bug class (r13, caught by q255's rotation): Spark's
``DECIMAL(38,s) + DECIMAL(38,s)`` needs precision 39, and the
allowPrecisionLoss resolution caps it at 38 by REDUCING THE SCALE to
``max(38 − intDigits, min(s, 6))`` — so scale-9 sums silently lose
their 9th digit (HALF_UP rounding, no error, no NULL). The same rule
hits Subtract, and Multiply whenever the ideal scale ``s1 + s2``
exceeds what precision 38 can hold. Scale ≤ 6 is protected by the
``min(s, 6)`` floor, which is why the money paths never hit it.

This lint walks the ANALYZED plan of every registered query and
flags any Add/Subtract whose result scale is below the maximum
operand scale, and any Multiply whose result scale is below the sum
of operand scales while an operand carries scale > 6 (rounded-then-
cast products at small scales are the package's documented idiom and
are exact by construction). Zero findings means no silent digit loss
anywhere in the registry's decimal arithmetic.

Blind spot, documented: subtrees behind ``pin`` are replaced by
``LogicalRDD`` at analysis time, so arithmetic INSIDE a pinned stage
is invisible here — those stages are covered by
the digit-exact regression tests (scales 9 and 12) on the prefix-sum
and merge primitives they are built from.

Usage: ``PYTHONPATH=. python scripts/decimal_lint.py [query ...]``
(default: every non-streaming registry query at sf0.001).
"""

from __future__ import annotations


def decimal_scale(jdt) -> int | None:
    """Scale of a java DataType if it is a DecimalType, else None."""
    try:
        if jdt.getClass().getSimpleName() == "DecimalType":
            return jdt.scale()
    except Exception:
        pass
    return None


def lossy_decimal_ops(df, qname: str = "") -> list[tuple]:
    """All Add/Subtract/Multiply nodes in ``df``'s analyzed plan whose
    decimal result scale silently drops operand digits. Returns
    ``(query, op, result_scale, operand_scale, expr_prefix)`` rows."""
    out: list[tuple] = []

    def walk_expr(e):
        name = e.getClass().getSimpleName()
        kids = [e.children().apply(i) for i in range(e.children().size())]
        if name in ("Add", "Subtract", "Multiply"):
            rs = decimal_scale(e.dataType())
            if rs is not None:
                cs = [decimal_scale(k.dataType()) for k in kids]
                cs = [c for c in cs if c is not None]
                if cs and name in ("Add", "Subtract") and rs < max(cs):
                    out.append(
                        (qname, name, rs, max(cs), e.toString()[:120])
                    )
                if (
                    cs
                    and name == "Multiply"
                    and rs < sum(cs)
                    and max(cs) > 6
                ):
                    out.append(
                        (qname, name, rs, sum(cs), e.toString()[:120])
                    )
        for k in kids:
            walk_expr(k)

    def walk_plan(p):
        es = p.expressions()
        for i in range(es.size()):
            walk_expr(es.apply(i))
        ch = p.children()
        for i in range(ch.size()):
            walk_plan(ch.apply(i))

    walk_plan(df._jdf.queryExecution().analyzed())
    return out


def main() -> int:
    import sys

    from bigdata_kafka_2_spark import get_spark
    from bigdata_kafka_2_spark.plans import load_extended

    spark = get_spark()
    sf = "/root/testdata/sf0.001"
    reg = load_extended()
    names = sys.argv[1:] or [n for n in reg if "stream" not in n]
    findings, errs = [], []
    for name in names:
        try:
            findings += lossy_decimal_ops(reg[name].spark_fn(spark, sf), name)
        except Exception as e:  # noqa: BLE001 — lint must finish
            errs.append((name, str(e)[:100]))
    for f in findings:
        print("LOSSY", *f)
    for n, e in errs:
        print("ERR", n, e)
    print(f"DONE {len(findings)} findings, {len(errs)} errors "
          f"over {len(names)} queries")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
