"""operators/validate.py: constraint checking + snapshot diff."""

from pyspark.sql import functions as F

from prohap_spark.operators.validate import (
    accepted_values,
    check_rows,
    fk_violations,
    in_range,
    matches_regex,
    not_null,
    row_digest,
    table_diff,
    unique_violations,
)


def _people(spark):
    return spark.createDataFrame(
        [
            (1, "alice", 30, "F"),
            (2, "bob", -5, "M"),       # range violation
            (3, None, 40, "M"),        # null name
            (4, "dora", 200, "X"),     # range + accepted_values violations
            (5, "eve5", 25, "F"),      # regex violation (digit)
        ],
        "id int, name string, age int, sex string",
    )


def test_check_rows_one_pass(spark):
    df = _people(spark)
    out = {
        r["constraint"]: (r["violations"], r["total"], r["ok"])
        for r in check_rows(
            df,
            [
                not_null("name"),
                in_range("age", 0, 120),
                accepted_values("sex", ["F", "M"]),
                matches_regex("name", "^[a-z]+$"),
            ],
        ).collect()
    }
    assert out["not_null(name)"] == (1, 5, False)
    assert out["in_range(age,0,120)"] == (2, 5, False)
    assert out["accepted_values(sex)"] == (1, 5, False)
    # NULL name passes the regex check (null-tolerant by design)
    assert out["matches_regex(name)"] == (1, 5, False)


def test_check_rows_all_green(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    rows = check_rows(df, [not_null("s"), in_range("id", 0, 10)]).collect()
    assert all(r["ok"] and r["violations"] == 0 for r in rows)


def test_unique_violations(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "z"), (2, "x"), (3, "x")], "k int, v string"
    )
    r = unique_violations(df, ["k"]).collect()[0]
    # key 1 has 3 rows -> 2 beyond the first
    assert (r["violations"], r["total"], r["ok"]) == (2, 5, False)
    r2 = unique_violations(df, ["k", "v"]).collect()[0]
    assert (r2["violations"], r2["ok"]) == (0, True)


def test_fk_violations(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id int, pid int"
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pid int")
    r = fk_violations(child, "pid", parent, "pid").collect()[0]
    # 99 is an orphan; NULL pid is NOT an fk violation
    assert (r["violations"], r["total"], r["ok"]) == (1, 4, False)


def test_row_digest_null_sentinel(spark):
    # ('a', NULL, 'b') must NOT collide with ('a', 'b', NULL) — the
    # concat_ws null-skip trap the sentinel exists to avoid
    df = spark.createDataFrame(
        [("a", None, "b"), ("a", "b", None)], "x string, y string, z string"
    )
    hs = [r[0] for r in df.select(row_digest(df, ["x", "y", "z"])).collect()]
    assert hs[0] != hs[1]


def test_table_diff(spark):
    a = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k int, s string, v int",
    )
    b = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 31), (4, "d", 40), (5, "e", 50)],
        "k int, s string, v int",
    )
    out = {r["status"]: r["n"] for r in table_diff(a, b, ["k"], ["s", "v"]).collect()}
    assert out == {"added": 1, "removed": 1, "changed": 1, "same": 2}


def test_table_diff_identical_and_empty_delta(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, s string")
    out = {r["status"]: r["n"] for r in table_diff(a, a, ["k"], ["s"]).collect()}
    assert out == {"added": 0, "removed": 0, "changed": 0, "same": 2}


def test_check_rows_single_aggregate_plan(spark):
    # the scale contract: N row-level rules = ONE pass, not N scans.
    # The physical plan must contain exactly one HashAggregate pair
    # chain over the source (partial + final), never one per rule.
    df = _people(spark)
    plan = check_rows(
        df, [not_null("name"), in_range("age", 0, 120), not_null("sex")]
    )._jdf.queryExecution().executedPlan().toString()
    # one scan of the in-memory relation feeds everything
    assert plan.count("LocalTableScan") + plan.count("Scan ExistingRDD") <= 1


def test_table_diff_randomized_vs_python_oracle(spark):
    """Seeded-random soundness pin (the test_jaccard_property batching
    device): 25 random snapshot-pair scenarios — varying key overlap,
    null values in compare columns, empty-side regimes — ride ONE
    Spark job each way via a scenario column folded into the key. The
    global status counts must equal a pure-Python oracle's, and
    diff(b, a) must be the involution (added<->removed swapped,
    changed/same invariant)."""
    import random

    rng = random.Random(1207)
    a_rows, b_rows = [], []
    oracle = {"added": 0, "removed": 0, "changed": 0, "same": 0}
    for sid in range(25):
        n_keys = rng.randint(0, 12)
        keys = rng.sample(range(100), n_keys)

        def val():
            return rng.choice(["x", "y", None])

        a_map = {k: (val(), val()) for k in keys if rng.random() < 0.8}
        b_map = {}
        for k in keys:
            r = rng.random()
            if k in a_map and r < 0.5:
                b_map[k] = a_map[k] if rng.random() < 0.5 else (val(), val())
            elif k not in a_map and r < 0.6:
                b_map[k] = (val(), val())
        for k, (u, v) in a_map.items():
            a_rows.append((sid, k, u, v))
        for k, (u, v) in b_map.items():
            b_rows.append((sid, k, u, v))
        for k in set(a_map) | set(b_map):
            if k not in a_map:
                oracle["added"] += 1
            elif k not in b_map:
                oracle["removed"] += 1
            elif a_map[k] != b_map[k]:
                oracle["changed"] += 1
            else:
                oracle["same"] += 1

    schema = "sid int, k int, u string, v string"
    a = spark.createDataFrame(a_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    got = {
        r["status"]: r["n"]
        for r in table_diff(a, b, ["sid", "k"], ["u", "v"]).collect()
    }
    assert got == oracle

    rev = {
        r["status"]: r["n"]
        for r in table_diff(b, a, ["sid", "k"], ["u", "v"]).collect()
    }
    assert rev == {
        "added": oracle["removed"],
        "removed": oracle["added"],
        "changed": oracle["changed"],
        "same": oracle["same"],
    }


def test_auc_exact_matches_python_and_edges(spark):
    """auc_exact (operators/classifier.py): randomized parity with a
    pure-python mid-rank AUC incl. heavy ties, plus the analytic
    edges (perfect = 1, inverted = 0, uninformative single score =
    0.5, degenerate one-class = NULL)."""
    import random

    from prohap_spark.operators.classifier import auc_exact

    def py_auc(pairs):
        pos = [s for s, y in pairs if y]
        neg = [s for s, y in pairs if not y]
        if not pos or not neg:
            return None
        wins = sum(
            1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
        )
        return wins / (len(pos) * len(neg))

    rng = random.Random(42)
    cases = [
        [(s, s >= 3) for s in range(6)],                      # perfect
        [(s, s < 3) for s in range(6)],                       # inverted
        [(7, i % 2 == 0) for i in range(10)],                 # one score
        [(1, True), (2, True)],                               # degenerate
    ]
    for _ in range(6):
        cases.append(
            [
                (rng.randint(0, 8), rng.random() < 0.4)
                for _ in range(rng.randint(2, 60))
            ]
        )
    for pairs in cases:
        df = spark.createDataFrame(
            [(s, bool(y)) for s, y in pairs], "score int, label boolean"
        )
        r = auc_exact(df, "score", "label").collect()[0]
        want = py_auc(pairs)
        if want is None:
            assert r["auc"] is None
        else:
            assert abs(r["auc"] - want) < 1e-12, (pairs, r)
            # the integer numerator is the exact doubled rank-sum
            assert r["auc_num2"] == round(want * 2 * r["n_pos"] * r["n_neg"])


def test_check_rows_null_predicate_counts_as_violation(spark):
    """An arbitrary user predicate that evaluates to NULL (three-valued
    logic) must count as a violation, not slip through ~NULL ->
    otherwise(0) as a pass (r12 ADVICE)."""
    df = spark.createDataFrame([(1, None), (2, 5), (3, -1)], "id int, x int")
    rows = {
        r["constraint"]: (r["violations"], r["ok"])
        for r in check_rows(df, [("x_positive", F.col("x") > 0)]).collect()
    }
    # x=None -> NULL predicate (violation), x=5 -> pass, x=-1 -> fail
    assert rows["x_positive"] == (2, False)


def test_check_rows_empty_table_reports_zero(spark):
    """An empty table must report 0 violations / ok=true, not NULL
    (sum() over zero rows is NULL without the coalesce)."""
    df = spark.createDataFrame([], "id int, s string")
    rows = check_rows(df, [not_null("s"), ("custom", F.col("id") > 0)]).collect()
    for r in rows:
        assert r["violations"] == 0 and r["total"] == 0 and r["ok"] is True
