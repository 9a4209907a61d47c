"""Hex is decoded with Spark built-ins, not Python UDFs.

The reference's hex kernels have one SQL definition each, the forms of
``functions/hexsql.py`` (SURVEY.md §2.7): the ingest templates render
them inline through the template functions of ``plans/templates.py``,
and ``register_all`` creates the SQL-defined functions of the reference
names from them, so ``ethereum_rpc`` is the only Python evaluation in an
ingest buffer or tip plan. Two checks:

- plan shape: the executed plan of every ``examples/*_ingest``
  ``create_buffer.sql`` and ``tip.sql`` evaluates no Python UDF but the
  RPC ones, each RPC call site once, each ABI-decode buffer decodes in
  exactly one Python node (a filter on the decode once cloned it into a
  second one), and a query calling every registered hex name evaluates
  none;
- differential: each form and each registered name agree with the Python
  kernels in ``functions/hex.py``, which stay as the oracle: the same
  values, and a failed query where ``hex.py`` raises, whatever
  ``spark.sql.ansi.enabled`` says.

The other registered names are the Python row kernels: one test checks
that each plans as an Arrow row UDF."""

import glob
import json
import os
import random
import re
import sys
import uuid
from decimal import Decimal

import pytest
from pyspark.errors import IllegalArgumentException, SparkRuntimeException

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.functions import hex as hexmod  # noqa: E402
from agnostic_blockchain_etl_spark.functions.hexsql import (  # noqa: E402
    hex_decode, hex_decode_int, hex_decode_word, hex_encode)
from agnostic_blockchain_etl_spark.plans.templates import (  # noqa: E402
    TemplateError, TemplateSet, render_string)

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "examples")
INGEST = sorted(os.path.basename(d)
                for d in glob.glob(os.path.join(EXAMPLES, "*_ingest")))
RPC_UDFS = {"ethereum_rpc", "ethereum_rpc_call"}
VARS = {"START": 0, "END": 9, "RPC_ENDPOINT": "mock://plans",
        "LATEST_BLOCK_STATUS": "latest"}

# every (reference type, Spark type) pair the ingest templates decode to,
# with the largest value each admits
INT_FORMS = {("Int64", "BIGINT"): 2 ** 63 - 1, ("UInt64", "BIGINT"): 2 ** 63 - 1,
             ("UInt32", "INT"): 2 ** 31 - 1, ("UInt8", "INT"): 255,
             ("UInt8", "TINYINT"): 127}
# input hex.py rejects too; int(h, 16) alone reads the middle four and
# bytes.fromhex the last
MALFORMED = ["0x12zz", "0xg", "x0", "#1",
             "0x-1", "0x 1", "0x1_0", "0x0x1", "0x12 34"]
# the types the registered evm_hex_decode_int reads, with the largest
# value each admits as a BIGINT
REGISTERED_TYPES = {"UInt8": 255, "UInt32": 2 ** 32 - 1,
                    "UInt64": 2 ** 63 - 1, "Int64": 2 ** 63 - 1}


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    yield get_session(master="local[8]",
                      conf={"spark.sql.shuffle.partitions": "8"})


@pytest.fixture(autouse=True)
def _drop_views(spark):
    """The session is shared with other test modules; leave no view
    behind (``test_pipeline_e2e`` checks that no ``buffer_*`` remains)."""
    before = {t.name for t in spark.catalog.listTables()}
    yield
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name not in before:
            spark.catalog.dropTempView(t.name)


@pytest.fixture(params=["true", "false"], ids=["ansi", "non_ansi"])
def ansi(spark, request):
    """Run under both values of ``spark.sql.ansi.enabled``, then restore."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", old)


def _python_udfs(plan) -> list[list]:
    """The PythonUDF expressions of each Python evaluation node of a
    physical plan."""
    out = []
    if plan.nodeName() in ("ArrowEvalPython", "BatchEvalPython"):
        udfs = plan.udfs()
        out.append([udfs.apply(i) for i in range(udfs.size())])
    if plan.nodeName() == "AdaptiveSparkPlan":
        out += _python_udfs(plan.inputPlan())
    children = plan.children()
    for i in range(children.size()):
        out += _python_udfs(children.apply(i))
    return out


def _evals_of(df) -> list[list[str]]:
    """UDF names of each Python evaluation node of ``df``'s plan."""
    return [sorted(u.name() for u in node)
            for node in _python_udfs(df._jdf.queryExecution().executedPlan())]


def _code(path: str) -> str:
    with open(path) as f:
        return "\n".join(line.split("--")[0] for line in f)


class TestPlanShape:
    @pytest.mark.parametrize("example", INGEST)
    def test_ingest_buffer_and_tip_evaluate_only_rpc(self, spark, example):
        templates = TemplateSet.load(os.path.join(EXAMPLES, example))
        view = f"buffer_{VARS['START']}_{VARS['END']}"
        spark.sql(templates.render("create_buffer.sql", VARS))
        for name, df in (("create_buffer.sql", spark.table(view)),
                         ("tip.sql", spark.sql(templates.render("tip.sql", VARS)))):
            evals = _evals_of(df)
            udfs = [u for node in evals for u in node]
            assert set(udfs) <= RPC_UDFS, f"{example}/{name}: {evals}"
            # one evaluation per call site: a form must not copy an RPC
            # call passed to it
            sites = len(re.findall(r"\bethereum_rpc(?:_call)?\(",
                                   _code(os.path.join(EXAMPLES, example, name))))
            assert sites and len(udfs) == sites, f"{example}/{name}: {evals}"

    @pytest.mark.parametrize("example,source,udf", [
        ("decoded_logs", "logs_ingest", "evm_decode_event"),
        ("decoded_traces", "traces_ingest", "evm_decode_call")])
    def test_abi_decode_runs_once(self, spark, tmp_path, example, source, udf):
        # plan only: the source and dictionary are empty parquet tables of
        # the shapes the pipelines read
        src = TemplateSet.load(os.path.join(EXAMPLES, source))
        spark.sql(src.render("create_buffer.sql", VARS))
        spark.createDataFrame([], spark.table("buffer_0_9").schema) \
            .write.parquet(str(tmp_path / "source"))
        source_table = f"src_{uuid.uuid4().hex[:8]}"
        spark.read.parquet(str(tmp_path / "source")) \
            .createOrReplaceTempView(source_table)
        spark.createDataFrame([], "selector STRING, fullsigs ARRAY<STRING>") \
            .write.parquet(str(tmp_path / "abi"))

        templates = TemplateSet.load(os.path.join(EXAMPLES, example))
        vars = dict(VARS, SOURCE_TABLE=source_table,
                    ABI_DICT_PATH=str(tmp_path / "abi"))
        spark.sql(templates.render("create_dictionary.sql", vars))
        spark.sql(templates.render("create_buffer.sql", vars))
        assert _evals_of(spark.table("buffer_0_9")) == [[udf]]

    @pytest.mark.parametrize("example", INGEST)
    def test_templates_decode_hex_through_template_functions(self, example):
        """The hex forms are written once, in plans/templates.py: the
        templates call neither the kernel UDFs nor the built-ins."""
        for name in ("create_buffer.sql", "tip.sql"):
            code = _code(os.path.join(EXAMPLES, example, name))
            for fn in ("evm_hex_decode", "evm_hex_decode_int",
                       "evm_hex_encode_int", "unhex", "conv", "hex"):
                assert not re.search(rf"\b{fn}\(", code), (example, name, fn)

    def test_registered_hex_names_evaluate_no_python(self, spark):
        df = spark.createDataFrame([("0x2a", "UInt8")], "x STRING, t STRING")
        df.createOrReplaceTempView("hex_names")
        plan = spark.sql("""
            SELECT evm_hex_decode(x) AS b, evm_hex_decode_int(x, t) AS n,
                   evm_hex_decode_word(x) AS w,
                   evm_hex_encode(evm_hex_decode(x)) AS s,
                   evm_hex_encode_int(length(x)) AS q
            FROM hex_names""")
        assert _evals_of(plan) == []
        assert plan.collect()[0].asDict() == {
            "b": b"*", "n": 42, "w": (42).to_bytes(32, "big"), "s": "0x2a",
            "q": "0x4"}


class TestRowKernels:
    def test_registered_as_arrow_row_udfs(self, spark):
        """Every other registered name is a plain Python kernel under
        Spark's Arrow row UDF; the RPC and decode ones nondeterministic,
        so the optimizer cannot clone a call (``functions/registry.py``).
        With NULL arguments each returns its own NULL rule's result."""
        from pyspark.util import PythonEvalType
        spark.createDataFrame([(None, None, None, None, None)],
                              "s STRING, b BINARY, n BIGINT, "
                              "a ARRAY<STRING>, t ARRAY<BINARY>") \
            .createOrReplaceTempView("null_args")
        df = spark.sql("""
            SELECT keccak256(s) AS k,
                   evm_decode_event(t, b, a) AS de,
                   evm_decode_call(b, b, a) AS dc,
                   ethereum_rpc(s, a, s) AS r,
                   ethereum_rpc_call(s, s, s, n, s) AS rc,
                   evm_word_add(b, b) AS wa, evm_word_sub(b, b) AS ws,
                   evm_word_cmp(b, b) AS wc, evm_word_to_str(b) AS wt
            FROM null_args""")
        udfs = {u.name(): u for node in _python_udfs(
            df._jdf.queryExecution().executedPlan()) for u in node}
        assert set(udfs) == {
            "keccak256", "evm_decode_event", "evm_decode_call",
            "ethereum_rpc", "ethereum_rpc_call", "evm_word_add",
            "evm_word_sub", "evm_word_cmp", "evm_word_to_str"}
        assert {n: u.evalType() for n, u in udfs.items()} == \
            dict.fromkeys(udfs, PythonEvalType.SQL_ARROW_BATCHED_UDF)
        assert {n for n, u in udfs.items() if not u.udfDeterministic()} == {
            "ethereum_rpc", "ethereum_rpc_call", "evm_decode_event",
            "evm_decode_call"}

        row = df.collect()[0].asDict()
        envelopes = {k: json.loads(row.pop(k))
                     for k in ("de", "dc", "r", "rc")}
        assert row == dict.fromkeys(("k", "wa", "ws", "wc", "wt"))
        assert envelopes == {
            "de": {"value": None, "error": "no topics"},
            "dc": {"value": None, "error": "input shorter than selector"},
            "r": {"value": None, "error": "null method or endpoint"},
            "rc": {"value": None,
                   "error": "null to/func_sig/block_number/endpoint"}}


class TestTemplateFunctions:
    def test_render_expands_the_forms(self):
        assert render_string('{{ hexDecode "b.hash" }}', {}) == hex_decode("b.hash")
        assert render_string('{{ hexEncodeInt "id" }}', {}) == hex_encode("id")
        assert render_string('{{ hexDecodeInt "n"\n    "UInt8" "TINYINT" }}', {}) \
            == hex_decode_int("n", "UInt8", "TINYINT")
        assert render_string('{{ hexDecodeInt "n" "UInt64" }}', {}) \
            == hex_decode_int("n", "UInt64", "BIGINT")

    @pytest.mark.parametrize("action", [
        'hexDecodeInt "n" "UInt256"', 'hexDecodeInt "n" "UInt8" "DECIMAL"',
        'hexDecodeInt "n"', 'hexDecode "a" "b"', 'nope "x"'])
    def test_bad_calls_raise(self, action):
        with pytest.raises(TemplateError):
            render_string("{{ " + action + " }}", {})

    @pytest.mark.parametrize("form,bound", list(INT_FORMS.items()))
    def test_quantity_bound_matches_hex_py(self, form, bound):
        """The range the int form's regex admits is hex.py's range for
        the reference type, cut at the Spark type's maximum (pure Python:
        the pattern means the same to java.util.regex)."""
        pattern = re.search(r"'(\^#[^']*)'",
                            hex_decode_int("x", *form)).group(1)
        rng = random.Random(5)
        values = [0, 1, bound - 1, bound, bound + 1, 2 * bound + 1,
                  2 * bound + 2, 2 ** 64, 2 ** 256 - 1] + \
            [rng.getrandbits(rng.randint(1, 70)) for _ in range(500)]
        for v in values:
            for text in (hex(v), "0x" + "0" * 20 + hex(v)[2:],
                         hex(v).upper(), hex(v)[2:]):
                # hex.py reads an Int64 at or above 2^63 as a negative
                # two's complement; the form rejects it like any value
                # past the bound
                try:
                    want = 0 <= hexmod.evm_hex_decode_int(text, form[0]) <= bound
                except OverflowError:
                    want = False
                assert bool(re.fullmatch(pattern, "#" + text)) == want, \
                    (form, text)


def _rows(spark, exprs: dict[str, str], values: list, schema: str):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               f"i INT, {schema}")
    view = f"hexin_{uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(view)
    cols = ", ".join(f"{e} AS {k}" for k, e in exprs.items())
    return [r.asDict() for r in
            spark.sql(f"SELECT i, {cols} FROM {view} ORDER BY i").collect()]


def _one(spark, expr: str, x: str):
    return spark.sql(f"SELECT {expr} AS v FROM VALUES ('{x}') AS t(x)") \
        .collect()[0]["v"]


def _words(rng: random.Random, n: int) -> list[int]:
    """Values of every width up to 256 bits, both sides of 10^38."""
    return [rng.getrandbits(rng.randint(1, 256)) for _ in range(n)]


class TestDifferential:
    # bare hex ('abc', '12', ''): hex.py reads it without the prefix
    EDGES = [None, "0x", "0x0", "0x1", "0xabc", "0x00ff", "0XFF",
             "abc", "12", "",
             hex(2 ** 63 - 1), "0x" + "0" * 62 + "2a",
             "0x" + "0" * 48 + "7" + "f" * 15]

    def test_decode_and_decode_int(self, spark, ansi):
        rng = random.Random(7)
        values = self.EDGES + [hex(rng.getrandbits(rng.randint(1, 63)))
                               for _ in range(200)]
        rows = _rows(spark, {"b": hex_decode("x"),
                             "n": hex_decode_int("x", "UInt64"),
                             "rb": "evm_hex_decode(x)",
                             "rn": "evm_hex_decode_int(x, 'UInt64')"},
                     values, "x STRING")
        for r, v in zip(rows, values):
            assert r["b"] == r["rb"] == hexmod.evm_hex_decode(v), v
            assert r["n"] == r["rn"] == hexmod.evm_hex_decode_int(v, "UInt64"), v
        small = [v for v in values if v is None or
                 hexmod.evm_hex_decode_int(v, "UInt64") <= 127]
        for form in INT_FORMS:
            rows = _rows(spark, {"n": hex_decode_int("x", *form)},
                         small, "x STRING")
            for r, v in zip(rows, small):
                assert r["n"] == hexmod.evm_hex_decode_int(v, form[0]), (v, form)

    def test_encode_int(self, spark):
        rng = random.Random(11)
        values = [None, 0, 1, 15, 16, 255, 2 ** 63 - 1] + \
            [rng.getrandbits(rng.randint(1, 63)) for _ in range(200)]
        rows = _rows(spark, {"s": hex_encode("x")}, values, "x BIGINT")
        for r, v in zip(rows, values):
            assert r["s"] == hexmod.evm_hex_encode_int(v), v

    def test_uint64_at_2_63_fails_in_both_forms(self, spark, ansi):
        """The sink column is BIGINT: 2^63 fits UInt64 but not the column,
        and fails the query in the form and the registered name, whatever
        the conf."""
        x = hex(2 ** 63)
        for expr in (hex_decode_int("x", "UInt64"),
                     "evm_hex_decode_int(x, 'UInt64')"):
            with pytest.raises(IllegalArgumentException,
                               match="CONVERSION_INVALID_INPUT"):
                _one(spark, expr, x)

    def test_registered_decode_int_and_word(self, spark, ansi):
        """evm_hex_decode_int with a type per row, and evm_hex_decode_word,
        exact over the whole UInt256 range."""
        rng = random.Random(19)
        types = list(REGISTERED_TYPES)
        rows = [(None, t) for t in types] + [("0x", t) for t in types] + \
            [(hex(b), t) for t, b in REGISTERED_TYPES.items()]
        for _ in range(300):
            t = rng.choice(types)
            text = hex(rng.randint(0, REGISTERED_TYPES[t]))
            rows.append((rng.choice((text, text.upper(), text[2:],
                                     "0x000" + text[2:])), t))
        got = _rows(spark, {"n": "evm_hex_decode_int(x.v, x.t)"}, rows,
                    "x STRUCT<v: STRING, t: STRING>")
        for r, (v, t) in zip(got, rows):
            assert r["n"] == hexmod.evm_hex_decode_int(v, t), (v, t)

        words = [None, "0x", "0x0", "0XFF", "abc", "0x" + "0" * 70 + "2a",
                 hex(2 ** 256 - 1)] + \
            [hex(n) for n in _words(random.Random(23), 300)]
        got = _rows(spark, {"w": "evm_hex_decode_word(x)",
                            "f": hex_decode_word("x")}, words, "x STRING")
        for r, v in zip(got, words):
            want = None if v is None else \
                hexmod.evm_hex_decode_int(v, "UInt256").to_bytes(32, "big")
            assert r["w"] == r["f"] == want, v

    @pytest.mark.parametrize("t", ["Int8", "UInt256", "uint64"])
    def test_registered_decode_int_fails_on_other_types(self, spark, ansi, t):
        """The SQL name reads only REGISTERED_TYPES: hex.py reads Int8 as
        a signed two's complement (-1 below) and UInt256 past BIGINT."""
        with pytest.raises(SparkRuntimeException,
                           match=f"unsupported type {t}"):
            _one(spark, f"evm_hex_decode_int(x, '{t}')", "0xff")
        with pytest.raises(SparkRuntimeException,
                           match=f"unsupported type {t}"):
            _rows(spark, {"n": "evm_hex_decode_int(x.v, x.t)"},
                  [("0x1", "UInt64"), ("0x1", t)],
                  "x STRUCT<v: STRING, t: STRING>")

    def test_registered_encodes(self, spark, ansi):
        rng = random.Random(29)
        blobs = [None, b"", b"\x00", b"\x00\xff", bytes(32)] + \
            [rng.randbytes(rng.randint(0, 40)) for _ in range(200)]
        got = _rows(spark, {"s": "evm_hex_encode(x)"}, blobs, "x BINARY")
        for r, b in zip(got, blobs):
            assert r["s"] == hexmod.evm_hex_encode(b), b
        values = [None, 0, 1, 15, 16, 255, 2 ** 63 - 1] + \
            [rng.getrandbits(rng.randint(1, 63)) for _ in range(200)]
        got = _rows(spark, {"s": "evm_hex_encode_int(x)"}, values, "x BIGINT")
        for r, v in zip(got, values):
            assert r["s"] == hexmod.evm_hex_encode_int(v), v

    @pytest.mark.parametrize("n", [-1, -2 ** 63])
    def test_registered_encode_int_of_negative_fails(self, spark, ansi, n):
        """Spark's hex() of a negative BIGINT is its two's complement
        ('0xffffffffffffffff' for -1); hex.py raises."""
        with pytest.raises(SparkRuntimeException, match="negative quantity"):
            _rows(spark, {"s": "evm_hex_encode_int(x)"}, [1, n], "x BIGINT")
        with pytest.raises(ValueError):
            hexmod.evm_hex_encode_int(n)

    @pytest.mark.parametrize("form,bound", list(INT_FORMS.items()))
    def test_int_forms_fail_past_their_bound(self, spark, ansi, form, bound):
        assert _one(spark, hex_decode_int("x", *form), hex(bound)) == bound
        with pytest.raises(IllegalArgumentException,
                           match="CONVERSION_INVALID_INPUT"):
            _one(spark, hex_decode_int("x", *form), hex(bound + 1))

    @pytest.mark.parametrize("x", MALFORMED)
    def test_malformed_hex_fails_the_query(self, spark, ansi, x):
        """unhex gives NULL on such input and conv stops at the first bad
        digit ('0x12zz' would read 18): the forms fail the query, as
        hex.py raises."""
        for expr in (hex_decode("x"), hex_decode_int("x", "UInt64"),
                     hex_decode_word("x"), "evm_hex_decode(x)",
                     "evm_hex_decode_int(x, 'UInt64')",
                     "evm_hex_decode_word(x)"):
            with pytest.raises(IllegalArgumentException,
                               match="CONVERSION_INVALID_INPUT"):
                _one(spark, expr, x)
        with pytest.raises(SparkRuntimeException, match="not hex"):
            _one(spark, "evm_hex_decode_dec(x)", x)
        with pytest.raises(ValueError):
            hexmod.evm_hex_decode(x)
        with pytest.raises(ValueError):
            hexmod.evm_hex_decode_int(x, "UInt256")

    def test_decode_dec(self, spark, ansi):
        values = [None, 0, 1, 2 ** 63 - 1, 2 ** 64, 10 ** 38 - 1, 10 ** 38,
                  2 ** 128, 2 ** 256 - 1] + _words(random.Random(13), 300)
        quantities = [None if n is None else hex(n) for n in values] + \
            ["0x", "0x0", "0x" + "0" * 63 + "1", "0x0" + "f" * 64, "0XFF",
             "abc", ""]
        rows = _rows(spark, {"d": "evm_hex_decode_dec(x)"},
                     quantities, "x STRING")
        for r, v in zip(rows, quantities):
            n = None if v is None else hexmod.evm_hex_decode_int(v, "UInt256")
            want = None if n is None or n >= 10 ** 38 else Decimal(n)
            assert r["d"] == want, v

    @pytest.mark.parametrize("x", [hex(2 ** 256), "0x" + "f" * 65],
                             ids=["2^256", "65_nibbles"])
    def test_decode_dec_fails_past_uint256(self, spark, ansi, x):
        """Past UInt256 the query fails, as hex.py raises; below it and
        at or above 10^38 the value is NULL (test_decode_dec)."""
        with pytest.raises(SparkRuntimeException,
                           match="does not fit in UInt256"):
            _rows(spark, {"d": "evm_hex_decode_dec(x)"}, ["0x1", x],
                  "x STRING")
        with pytest.raises(OverflowError):
            hexmod.evm_hex_decode_int(x, "UInt256")

    def test_decode_dec_of_abi_words(self, spark):
        """The erc20_balances form: a 32-byte word, upper-case hex,
        64 zero-padded nibbles."""
        values = [0, 1, 10 ** 38 - 1, 10 ** 38, 2 ** 256 - 1] + \
            _words(random.Random(17), 300)
        words = [n.to_bytes(32, "big") for n in values]
        rows = _rows(spark, {"d": "evm_hex_decode_dec(concat('0x', hex(x)))"},
                     words, "x BINARY")
        for r, n in zip(rows, values):
            assert r["d"] == (Decimal(n) if n < 10 ** 38 else None), n
