"""Reference-shaped fixture tables (FIXTURES.md §B) — synthesized, not read.

The driver ships TPC-H-ish tables only; the reference's data model is six
MongoDB collections (users/tasks/submissions/payments/notifications/
withdrawals, insert sites cited per column in FIXTURES.md). This module
synthesizes those collections DETERMINISTICALLY as pure SQL over
``range(n)``: every generated value derives from md5 of a seeded string of
the row index, so the SAME rows are reproducible in both engines — Spark
builds temp views from the Spark-dialect SQL, and each query's DuckDB
oracle embeds the DuckDB-dialect CTEs. No files, no RNG state, no
synthesis drift: the fixture IS its defining expression. Timestamps are
TIMESTAMP_NTZ holding UTC wall-clock time, so no row depends on the
session timezone.

The generators bake in every §2.11 semantic quirk and FIXTURES.md §C edge
case the reference exhibits:

* submissions carry BOTH key spellings (``task_id`` ~90% / ``taskId``
  ~10%, index.js:554 vs 205), ~1% orphan task references
  (index.js:354-356's 'Unknown Task' path), ~5% NULL payable_amount
  (the ``|| 0`` coalesce, index.js:340), and the misspelled ``'approve'``
  status (~2%, index.js:614);
* payments come in the two writer shapes (shape-B email/name vs shape-A
  buyer_email/status, index.js:301-308 vs 759-766) so readers filtering
  on ``email`` miss shape-A rows — reference-faithful asymmetry;
* tasks include NULL status rows (Mongo ``$ne:'deleted'`` matches missing
  → null-safe predicate required, index.js:601) and ~70% NULL updatedAt;
* users include one row whose role is outside the enum (isin filters,
  index.js:78); buyer #5 has tasks but no payments (empty-group
  aggregation, index.js:566);
* withdrawals include sub-200-coin rows to exercise the min-withdrawal
  guard (index.js:1062).

Role assignment is positional (id%100: 0→admin, 1-30→buyer, else worker)
so foreign keys can target a role in closed form: the k-th buyer is user
``(k div 30)*100 + (k mod 30) + 1``, the k-th worker is
``(k div 69)*100 + 31 + (k mod 69)`` — both engines compute the same FK
without sampling. One deliberate wrinkle: the out-of-enum row id=999
sits INSIDE the worker id range, so worker FKs hitting k=689 point at
the 'ghost' user — a role='worker' join therefore drops those rows in
BOTH engines (the referential-integrity queries treat it as the
orphaned-FK case the reference's unguarded populate() exhibits;
quantified in tests: one of 690 worker slots).

Scale note: these are model-parity fixtures (≤50k rows), not throughput
fixtures — the 100 TB arguments live with the operators that also run on
the big TPC-H tables. Synthesis is a map-only project over ``range``,
but 10-15 md5 hashes per row make it the bulk of a small ``ref_*``
query's work, so each collection is synthesized once per session and
held, in one partition, in the session's memo (``reference_table``).
Still no files: the held copy lives in Spark's block manager, and an
external ``clearCache()`` makes the next call synthesize a fresh one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .catalog import EPOCH_NTZ, session_memo

N_USERS = 1_000
N_TASKS = 5_000
N_SUBMISSIONS = 50_000
N_PAYMENTS = 10_000
N_NOTIFICATIONS = 20_000
N_WITHDRAWALS = 2_000

_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z

REF_TABLE_NAMES = (
    "ref_users",
    "ref_tasks",
    "ref_submissions",
    "ref_payments",
    "ref_notifications",
    "ref_withdrawals",
)


class _Dialect:
    """The few expression shapes Spark SQL and DuckDB spell differently;
    everything else in the generators is common SQL."""

    def __init__(self, spark: bool):
        self.spark = spark

    def src(self, n: int) -> str:
        # row source with a bigint column `id` = 0..n-1; Spark's is one
        # partition (reference_table says why)
        return f"range(0, {n}, 1, 1)" if self.spark else f"range({n}) t(id)"

    def h_on(self, seed: str, idx_expr: str) -> str:
        # deterministic 32-bit non-negative int per (seed, expr): first 8
        # hex chars of md5(seed || expr), identical in both engines —
        # keyed by an arbitrary expression so one table can recompute
        # another's hash-derived column in closed form (e.g. a submission
        # reproducing its task's buyer)
        inner = f"md5(concat('{seed}', {idx_expr}))"
        if self.spark:
            return f"cast(conv(substr({inner}, 1, 8), 16, 10) as bigint)"
        return f"(('0x' || substr({inner}, 1, 8))::BIGINT)"

    def h(self, seed: str) -> str:
        # the common row-keyed form: hash of (seed, the row's own id)
        return self.h_on(seed, "id")

    def ts(self, epoch_expr: str) -> str:
        # epoch seconds -> UTC wall-clock time with no zone (Spark
        # TIMESTAMP_NTZ, DuckDB TIMESTAMP); timestampadd reads no zone
        if self.spark:
            return f"timestampadd(SECOND, {epoch_expr}, {EPOCH_NTZ})"
        return f"epoch_ms(({epoch_expr}) * 1000)"

    def oid(self, seed: str) -> str:
        # 24 lowercase hex chars (ObjectId-shaped, index.js:1179)
        return f"substr(md5(concat('{seed}', id)), 1, 24)"

    def dbl(self, expr: str) -> str:
        # BOTH engines parse 50.0-style literals as DECIMAL and propagate
        # it through arithmetic (the old comment claimed DuckDB used
        # DOUBLE — false, verified by type probe: ref_payments.coins was
        # decimal128(5,1) in the oracle CTE while Spark emitted DOUBLE,
        # a typed-hash family mismatch every consumer had to paper over
        # with its own compensating cast). Cast on BOTH sides so money
        # columns leave the generators as identical DOUBLEs.
        return f"cast({expr} as double)"


# buyer k -> user id (role layout: id%100==0 admin, 1..30 buyer, 31..99 worker)
_BUYER_FK = "(({k}) div 30) * 100 + (({k}) % 30) + 1"
_WORKER_FK = "(({k}) div 69) * 100 + (({k}) % 69) + 31"


def _fk(expr: str, template: str, spark: bool) -> str:
    out = template.format(k=expr)
    return out if spark else out.replace(" div ", " // ")


def _users_sql(d: _Dialect) -> str:
    role = (
        "CASE WHEN id = 999 THEN 'ghost' "  # out-of-enum row (FIXTURES §C.5)
        "WHEN id % 100 = 0 THEN 'admin' "
        "WHEN id % 100 <= 30 THEN 'buyer' ELSE 'worker' END"
    )
    base = d.dbl("CASE WHEN id % 100 = 0 THEN 0.0 WHEN id % 100 <= 30 THEN 50.0 ELSE 10.0 END")
    return f"""
SELECT {d.oid('u')} AS id,
       concat('User ', id) AS name,
       concat('user', id, '@example.com') AS email,
       CASE WHEN {d.h('uphoto')} % 5 = 0 THEN ''
            ELSE concat('https://img.example.com/p/', id, '.png') END AS photo,
       {role} AS role,
       ({base}) + cast({d.h('ucoins')} % 2000 AS double) / 100.0 AS coins,
       {d.ts(f"{_EPOCH_2024} + ({d.h('ucreated')} % 31536000)")} AS createdAt
FROM {d.src(N_USERS)}
"""


def _tasks_sql(d: _Dialect) -> str:
    buyer = _fk(f"{d.h('tbuyer')} % 300", _BUYER_FK, d.spark)
    return f"""
SELECT {d.oid('t')} AS id,
       concat('Task ', id) AS task_title,
       concat('Do the thing number ', id) AS task_detail,
       1 + {d.h('tworkers')} % 50 AS required_workers,
       cast(50 + {d.h('tpay')} % 1950 AS double) / 100.0 AS payable_amount,
       concat('2025-', lpad(cast(1 + {d.h('tmon')} % 12 AS string), 2, '0'),
              '-', lpad(cast(1 + {d.h('tday')} % 28 AS string), 2, '0')) AS completion_date,
       concat('screenshot-', id) AS submission_info,
       concat('https://img.example.com/t/', id, '.png') AS task_image_url,
       concat('user', {buyer}, '@example.com') AS buyer_email,
       concat('User ', {buyer}) AS buyer_name,
       {d.ts(f"{_EPOCH_2024} + ({d.h('tcreated')} % 31536000)")} AS createdAt,
       CASE WHEN {d.h('tupd')} % 10 < 3
            THEN {d.ts(f"{_EPOCH_2024} + 31536000 + ({d.h('tupd2')} % 1000000)")}
            ELSE NULL END AS updatedAt,
       CASE WHEN id % 1000 = 7 THEN NULL
            WHEN {d.h('tstatus')} % 10 = 0 THEN 'deleted'
            ELSE 'open' END AS status
FROM {d.src(N_TASKS)}
"""


def _submissions_sql(d: _Dialect) -> str:
    tidx = f"{d.h('stask')} % {N_TASKS}"
    # task oid in closed form: same expression tasks use, applied to tidx
    task_oid = f"substr(md5(concat('t', {tidx})), 1, 24)"
    orphan_oid = "substr(md5(concat('orphan', id)), 1, 24)"
    ref = f"CASE WHEN {d.h('sorph')} % 100 = 99 THEN {orphan_oid} ELSE {task_oid} END"
    worker = _fk(f"{d.h('sworker')} % 690", _WORKER_FK, d.spark)
    task_buyer = _fk(f"{d.h_on('tbuyer', tidx)} % 300", _BUYER_FK, d.spark)
    status = (
        f"CASE WHEN {d.h('sstatus')} % 100 < 50 THEN 'pending' "
        f"WHEN {d.h('sstatus')} % 100 < 80 THEN 'approved' "
        f"WHEN {d.h('sstatus')} % 100 < 98 THEN 'rejected' "
        "ELSE 'approve' END"
    )
    sub_ts = f"{_EPOCH_2024} + ({d.h('ssub')} % 31536000)"
    return f"""
SELECT {d.oid('s')} AS id,
       CASE WHEN {d.h('skey')} % 10 = 0 THEN NULL ELSE {ref} END AS task_id,
       CASE WHEN {d.h('skey')} % 10 = 0 THEN {ref} ELSE NULL END AS taskId,
       concat('user', {worker}, '@example.com') AS worker_email,
       concat('User ', {worker}) AS worker_name,
       CASE WHEN {d.h('sbnull')} % 10 = 0 THEN NULL
            ELSE concat('user', {task_buyer}, '@example.com') END AS buyer_email,
       CASE WHEN {d.h('spnull')} % 20 = 0 THEN NULL
            ELSE cast(50 + {d.h_on('tpay', tidx)} % 1950 AS double) / 100.0 END AS payable_amount,
       {status} AS status,
       {d.ts(sub_ts)} AS submitted_at,
       CASE WHEN {status} IN ('approved', 'approve')
            THEN {d.ts(f"({sub_ts}) + 3600")} ELSE NULL END AS approvedAt,
       CASE WHEN {status} = 'rejected'
            THEN {d.ts(f"({sub_ts}) + 3600")} ELSE NULL END AS rejectedAt
FROM {d.src(N_SUBMISSIONS)}
"""


def _payments_sql(d: _Dialect) -> str:
    # buyer #5 never pays (FIXTURES §C.1: tasks but zero payments)
    buyer_k = f"(CASE WHEN {d.h('pbuyer')} % 300 = 5 THEN 6 ELSE {d.h('pbuyer')} % 300 END)"
    buyer = _fk(buyer_k, _BUYER_FK, d.spark)
    pkg = f"{d.h('ppkg')} % 4"
    coins = f"CASE {pkg} WHEN 0 THEN 10.0 WHEN 1 THEN 150.0 WHEN 2 THEN 500.0 ELSE 1000.0 END"
    usd = f"CASE {pkg} WHEN 0 THEN 1.0 WHEN 1 THEN 10.0 WHEN 2 THEN 20.0 ELSE 35.0 END"
    shape_b = f"{d.h('pshape')} % 10 >= 4"  # 60% shape-B
    return f"""
SELECT {d.oid('p')} AS id,
       CASE WHEN {shape_b} THEN concat('user', {buyer}, '@example.com') ELSE NULL END AS email,
       CASE WHEN {shape_b} THEN NULL ELSE concat('user', {buyer}, '@example.com') END AS buyer_email,
       CASE WHEN {shape_b} THEN concat('User ', {buyer}) ELSE NULL END AS name,
       {d.dbl(coins)} AS coins,
       {d.dbl(usd)} AS amount_usd,
       CASE WHEN {d.h('pmethod')} % 2 = 0 THEN 'stripe' ELSE 'manual' END AS payment_method,
       {d.ts(f"{_EPOCH_2024} + ({d.h('pdate')} % 31536000)")} AS payment_date,
       CASE WHEN {shape_b} THEN NULL ELSE 'completed' END AS status
FROM {d.src(N_PAYMENTS)}
"""


def _notifications_sql(d: _Dialect) -> str:
    route = (
        f"CASE {d.h('nroute')} % 3 WHEN 0 THEN '/' "
        "WHEN 1 THEN '/dashboard/worker-home' "
        "ELSE '/dashboard/buyer-submissions' END"
    )
    return f"""
SELECT {d.oid('n')} AS id,
       concat('Notification ', id) AS message,
       concat('user', {d.h('nto')} % {N_USERS}, '@example.com') AS toEmail,
       {route} AS actionRoute,
       {d.ts(f"{_EPOCH_2024} + ({d.h('ntime')} % 10000) * 60")} AS time
FROM {d.src(N_NOTIFICATIONS)}
"""


def _withdrawals_sql(d: _Dialect) -> str:
    worker = _fk(f"{d.h('wworker')} % 690", _WORKER_FK, d.spark)
    coin = (
        f"CASE WHEN {d.h('wmin')} % 20 = 0 THEN 100.0 + cast({d.h('wcoin')} % 99 AS double) "
        f"ELSE 200.0 + cast({d.h('wcoin')} % 1800 AS double) END"
    )
    status = f"CASE WHEN {d.h('wstatus')} % 10 < 7 THEN 'pending' ELSE 'approved' END"
    w_ts = f"{_EPOCH_2024} + ({d.h('wdate')} % 31536000)"
    sys_ = (
        f"CASE {d.h('wsys')} % 4 WHEN 0 THEN 'bkash' WHEN 1 THEN 'nagad' "
        "WHEN 2 THEN 'rocket' ELSE 'bank' END"
    )
    return f"""
SELECT {d.oid('w')} AS id,
       concat('user', {worker}, '@example.com') AS worker_email,
       concat('User ', {worker}) AS worker_name,
       {d.dbl(coin)} AS withdrawal_coin,
       {d.dbl(coin)} / 20.0 AS withdrawal_amount,
       {sys_} AS payment_system,
       lpad(cast({d.h('wacct')} % 100000000 AS string), 10, '0') AS account_number,
       {d.ts(w_ts)} AS withdraw_date,
       {status} AS status,
       CASE WHEN {status} = 'approved' THEN {d.ts(f"({w_ts}) + 7200")}
            ELSE NULL END AS approvedAt
FROM {d.src(N_WITHDRAWALS)}
"""


_BUILDERS = {
    "ref_users": _users_sql,
    "ref_tasks": _tasks_sql,
    "ref_submissions": _submissions_sql,
    "ref_payments": _payments_sql,
    "ref_notifications": _notifications_sql,
    "ref_withdrawals": _withdrawals_sql,
}


def spark_sql_for(table: str) -> str:
    return _BUILDERS[table](_Dialect(spark=True))


def duck_cte(*tables: str) -> str:
    """DuckDB WITH-clause body defining the requested reference tables —
    embed as `WITH {duck_cte('ref_users', ...)} SELECT ...` in oracles."""
    d = _Dialect(spark=False)
    return ",\n".join(f"{t} AS ({_BUILDERS[t](d)})" for t in tables)


def reference_table(spark: SparkSession, table: str) -> DataFrame:
    """The session's persisted copy of one synthesized collection.

    Input caching, not result caching: every query that reads the copy
    still plans and runs all of its own jobs; only the md5 synthesis of
    its input is done once per session, as ``catalog.load_tables`` binds
    the TPC-H tables once. When an external ``clearCache()`` has dropped
    the copy (``storageLevel`` NONE), a FRESH plan is built and
    persisted, never the stale captured DataFrame (the rule
    ``graph.copurchase_edges`` follows, for the reason measured there).

    The copy is ONE partition: it is synthesized over a one-slice
    ``range``, so its executed plan reports ``SinglePartition``, which
    satisfies every distribution an operator can ask for. A hash or
    global aggregate, a sort or a window over it then plans no exchange,
    and a query over held copies runs as one single-task job plus its
    broadcasts instead of a shuffle stage per operator at
    ``defaultParallelism`` tasks each (SCALE.md "Held reference copies
    in one partition"). What bounds it: the row counts are the ``N_*``
    constants, the same at every scale factor, and each materialized
    copy stays far under 64 MB (``tests/test_reference_fixtures.py``
    pins that ceiling); a collection that grew with the scale factor
    would need more partitions.

    Synthesis depends on no session conf, so a copy built under any
    session reads the same in all of them: every timestamp is a
    TIMESTAMP_NTZ holding UTC wall-clock time, built with
    ``timestampadd``, which reads no zone, and no cast or arithmetic in
    the generators can overflow or fail (md5 hex prefixes are valid
    bigints, the epoch offsets stay far inside bigint), so ANSI mode
    changes nothing either. The queries render these timestamps with
    ``cast(c AS string)``, which reads no zone either, so the caller's
    session timezone is neither read nor written.

    No lock: ``persist()`` is lazy, and Spark's CacheManager keeps one
    entry per equal plan, so two threads racing on a cold memo cost one
    extra dict write, not a second copy."""
    memo = session_memo(spark, "reference_tables")
    df = memo.get(table)
    if df is None or df.storageLevel == StorageLevel.NONE:
        df = memo[table] = spark.sql(spark_sql_for(table)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    return df
