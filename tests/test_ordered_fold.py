"""streaming/stateful.py:ordered_fold, the one state protocol of the
stream twins: rows fold in ascending order, rows at or below the key's
high-water mark are dropped and counted (so each (key, value) folds
once, in whichever batch its rows arrive), ``per_value`` folds all rows
of a value in one step, and state carries across micro-batches. An AST guard keeps the twins'
("update", NoTimeout) state call inside the driver."""

from __future__ import annotations

import ast
import os
import pathlib
import time

import pytest

import shortvideohybridanalyticslakehouse_spark as pkg
from shortvideohybridanalyticslakehouse_spark.streaming.stateful import (
    ordered_fold,
)

OUT = (
    "k string, total bigint, seqs array<bigint>, widths array<bigint>,"
    " last bigint, dropped bigint"
)


def _sum_fold(frame, per_value):
    """Sum ``x`` per key; record each step's order value and row count."""

    def step(state, rows):
        total, seqs, widths = state
        seqs.append(rows[0].seq)
        widths.append(len(rows))
        return total + sum(int(r.x) for r in rows), seqs, widths

    def emit(key, state, last, dropped):
        total, seqs, widths = state
        return {
            "k": key[0], "total": total, "seqs": seqs, "widths": widths,
            "last": last, "dropped": dropped,
        }

    return ordered_fold(
        frame, "k", "seq", OUT,
        "total bigint, seqs array<bigint>, widths array<bigint>",
        (0, [], []), step, emit, per_value=per_value,
    )


@pytest.mark.parametrize(
    "per_value, totals, dropped, widths",
    [
        # one row per step: the first seq-7 row folds, the second is
        # dropped and counted like the seq-3 replay of the batch before
        (False, [60, 120, 127], [0, 1, 3], [1, 1, 1, 1, 1]),
        # per value: the two seq-7 rows go to ONE step, neither dropped
        (True, [60, 120, 197], [0, 1, 2], [1, 1, 1, 1, 2]),
    ],
    ids=["per_row", "per_value"],
)
def test_ordered_fold_sums_in_order_and_drops_replays(
    spark, tmp_path, per_value, totals, dropped, widths
):
    files = [
        # out of order inside the batch: folds 1, 2, 3
        [("a", 2, 20), ("a", 1, 10), ("a", 3, 30)],
        # seq 3 replays the high-water mark; key b has its own mark
        [("a", 3, 999), ("a", 6, 60), ("b", 1, 5)],
        # seq 5 is late (below the mark 6); two rows share seq 7
        [("a", 7, 7), ("a", 5, 500), ("a", 7, 70)],
    ]
    src = os.path.join(str(tmp_path), "in")
    os.makedirs(src)
    t0 = time.time() - 600
    for i, rows in enumerate(files):
        p = os.path.join(src, f"p{i:02d}.csv")
        with open(p, "w") as f:
            f.writelines(f"{k},{s},{x}\n" for k, s, x in rows)
        os.utime(p, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema("k string, seq long, x long")
        .option("maxFilesPerTrigger", 1)
        .csv(src)
    )
    q = (
        _sum_fold(stream, per_value)
        .writeStream.format("memory")
        .queryName(f"ordered_fold_sum_{int(per_value)}")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hist = spark.sql(
        f"SELECT * FROM ordered_fold_sum_{int(per_value)}"
    ).collect()
    a = sorted(
        (r for r in hist if r.k == "a"), key=lambda r: len(r.seqs)
    )
    # one row per batch that touched the key; state carried across
    assert [(r.total, r.last, r.dropped) for r in a] == list(
        zip(totals, [3, 6, 7], dropped)
    )
    # ascending order; seq 5 (late) and the seq-3 replay never fold
    assert a[-1].seqs == [1, 2, 3, 6, 7]
    assert a[-1].widths == widths
    (b,) = [r for r in hist if r.k == "b"]
    assert (b.total, b.seqs, b.last, b.dropped) == (5, [1], 1, 0)


def _update_no_timeout_calls(tree):
    """(top-level function name or None, call) for every call passing
    both the literal "update" and ``GroupStateTimeout.NoTimeout``."""
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            args = list(node.args) + [kw.value for kw in node.keywords]
            update = any(
                isinstance(a, ast.Constant) and a.value == "update"
                for a in args
            )
            no_timeout = any(
                isinstance(a, ast.Attribute) and a.attr == "NoTimeout"
                for a in args
            )
            if update and no_timeout:
                yield owner, node


def test_update_no_timeout_state_only_in_ordered_fold():
    root = pathlib.Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for owner, call in _update_no_timeout_calls(
            ast.parse(path.read_text())
        ):
            found.append((rel, owner, call.lineno))
    assert [(rel, owner) for rel, owner, _ in found] == [
        ("streaming/stateful.py", "ordered_fold")
    ], found
