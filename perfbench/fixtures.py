"""DDL inputs of the ddl_cli workload and their expected DDL.

Seeded inputs are written with pyarrow: a wide table, a deeply nested one
and a directory of small files sharing one schema. The reference's own
fixture (FIXTURES.md section 1) is written too and checked against its
golden. Expected DDL for every input is rendered here, independently of
the Scala renderer, from the Arrow schema Parquet stores."""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Primary keys of the bundled TPC-H-like tables.
TABLE_PK = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id",
}

# FIXTURES.md section 1: the reference's golden (table T, primary key foo).
REFERENCE_GOLDEN = """drop table if exists T;
create table T (
    a Nullable(Int32)
    , b Nullable(String)
    , c Tuple(
        a Nullable(String)
        , b Nullable(String)
    )
    , d Nested (
        a Nullable(String)
    )
) engine = MergeTree() primary key (foo);
"""

# Scalar types every mode maps (Legacy rejects int8/int16/decimal).
SCALARS = [pa.int32(), pa.int64(), pa.float32(), pa.float64(), pa.string(),
           pa.bool_(), pa.binary(), pa.date32(), pa.timestamp("us")]


# ---- expected DDL ----------------------------------------------------------

def _scalar(t, mode):
    ext = mode == "extended"
    if pa.types.is_boolean(t):
        return "Bool"
    if pa.types.is_int32(t):
        return "Int32"
    if pa.types.is_int64(t):
        return "Int64"
    if pa.types.is_float32(t):
        return "Float32"
    if pa.types.is_float64(t):
        return "Float64"
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t):
        return "String"
    if pa.types.is_date32(t):
        return "Date" if ext else "Int32"
    if pa.types.is_timestamp(t):
        if t.unit == "ns":  # read as a long under nanosAsLong
            return "Int64"
        return "DateTime64(6)" if ext else "Int64"
    raise ValueError(f"no expected mapping for {t}")


def _is_nested(t):
    return pa.types.is_struct(t) or pa.types.is_list(t) or pa.types.is_map(t)


def _field(out, name, t, ind, pk, mode):
    sp = " " * ind
    if pa.types.is_struct(t):
        out.append(f"{name} Tuple(\n")
        _body(out, [(t.field(i).name, t.field(i).type) for i in range(t.num_fields)],
              ind + 4, pk, mode)
        out.append(sp + ")\n")
    elif pa.types.is_list(t) and mode == "extended" and not _is_nested(t.value_type):
        out.append(f"{name} Array(Nullable({_scalar(t.value_type, mode)}))\n")
    elif pa.types.is_list(t):
        out.append(f"{name} Nested (\n")
        et = t.value_type
        if pa.types.is_struct(et):
            _body(out, [(et.field(i).name, et.field(i).type) for i in range(et.num_fields)],
                  ind + 4, pk, mode)
        elif _is_nested(et):
            out.append(" " * (ind + 4))
            _field(out, "element", et, ind + 4, pk, mode)
        else:
            out.append(" " * (ind + 4) + f"element Nullable({_scalar(et, mode)})\n")
        out.append(sp + ")\n")
    elif pa.types.is_map(t):
        body = ind + 4
        out.append(f"{name} Map (\n")
        out.append(" " * body + _scalar(t.key_type, mode) + "\n")
        out.append(" " * body + ", ")
        vt = t.item_type
        if pa.types.is_struct(vt):
            out.append("Tuple(\n")
            _body(out, [(vt.field(i).name, vt.field(i).type) for i in range(vt.num_fields)],
                  body + 4, pk, mode)
            out.append(" " * body + ")\n")
        elif _is_nested(vt):
            _field(out, "value", vt, body, pk, mode)
        else:
            out.append(_scalar(vt, mode) + "\n")
        out.append(sp + ")\n")
    elif name == pk:
        out.append(f"{name} {_scalar(t, mode)}\n")
    else:
        out.append(f"{name} Nullable({_scalar(t, mode)})\n")


def _body(out, fields, ind, pk, mode):
    for i, (n, t) in enumerate(fields):
        out.append(" " * ind + (", " if i else ""))
        _field(out, n, t, ind, pk, mode)


def expected_ddl(schema, table, pk, mode):
    """DdlRenderer's output for a Parquet file with this Arrow schema."""
    out = [f"drop table if exists {table};\n", f"create table {table} (\n"]
    _body(out, [(f.name, f.type) for f in schema], 4, pk, mode)
    out.append(f") engine = MergeTree() primary key ({pk});\n")
    return "".join(out)


# ---- seeded inputs ---------------------------------------------------------

def _value(t, rng, depth=0):
    if rng.random() < 0.1 and depth > 0:
        return None
    if pa.types.is_struct(t):
        return {t.field(i).name: _value(t.field(i).type, rng, depth + 1)
                for i in range(t.num_fields)}
    if pa.types.is_list(t):
        return [_value(t.value_type, rng, depth + 1) for _ in range(rng.randint(0, 3))]
    if pa.types.is_map(t):
        return [(f"k{j}", _value(t.item_type, rng, depth + 1)) for j in range(rng.randint(0, 2))]
    if pa.types.is_boolean(t):
        return rng.random() < 0.5
    if pa.types.is_integer(t):
        return rng.randint(-10**6, 10**6)
    if pa.types.is_floating(t):
        return round(rng.uniform(-1e3, 1e3), 3)
    if pa.types.is_string(t):
        return "s%d" % rng.randint(0, 10**6)
    if pa.types.is_binary(t):
        return bytes(rng.randrange(256) for _ in range(4))
    if pa.types.is_date32(t):
        return datetime.date(2020, 1, 1) + datetime.timedelta(days=rng.randint(0, 2000))
    if pa.types.is_timestamp(t):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=rng.randint(0, 10**7))
    raise ValueError(t)


def _table(schema, rows, rng):
    cols = [pa.array([_value(f.type, rng, 1 if _is_nested(f.type) else 0)
                      for _ in range(rows)], type=f.type) for f in schema]
    return pa.Table.from_arrays(cols, schema=schema)


def _nested_type(rng, depth):
    """A type nested `depth` levels deep, mixing struct, list and map."""
    if depth == 0:
        return rng.choice(SCALARS)
    inner = _nested_type(rng, depth - 1)
    kind = ("struct", "list", "map")[depth % 3] if rng.random() < 0.7 else \
        rng.choice(("struct", "list", "map"))
    if kind == "struct":
        return pa.struct([pa.field(f"f{depth}", inner),
                          pa.field(f"g{depth}", rng.choice(SCALARS))])
    if kind == "list":
        return pa.list_(inner)
    return pa.map_(pa.string(), inner)


def write_inputs(out_dir, seed):
    """Write the generated inputs; returns [(id, path, table, pk)]."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    inputs = []

    wide = pa.schema([pa.field(f"c{i:04d}", rng.choice(SCALARS)) for i in range(2000)])
    p = os.path.join(out_dir, "wide.parquet")
    pq.write_table(_table(wide, 8, rng), p)
    inputs.append(("wide", p, "wide", "c0000"))

    nested = pa.schema([pa.field("id", pa.int64())] +
                       [pa.field(f"n{i}", _nested_type(rng, rng.randint(6, 8)))
                        for i in range(6)])
    p = os.path.join(out_dir, "nested.parquet")
    pq.write_table(_table(nested, 8, rng), p)
    inputs.append(("nested", p, "nested", "id"))

    multi = pa.schema([pa.field("id", pa.int64())] +
                      [pa.field(f"m{i}", rng.choice(SCALARS)) for i in range(11)])
    d = os.path.join(out_dir, "multi")
    os.makedirs(d, exist_ok=True)
    for i in range(200):
        pq.write_table(_table(multi, 5, rng), os.path.join(d, f"part-{i:05d}.parquet"))
    inputs.append(("multi", d, "multi", "id"))

    ref = pa.table({
        "a": pa.array([42], pa.int32()),
        "b": pa.array([None], pa.string()),
        "c": pa.array([{"a": "foo", "b": "bar"}],
                      pa.struct([("a", pa.string()), ("b", pa.string())])),
        "d": pa.array([[{"a": "foo"}]], pa.list_(pa.struct([("a", pa.string())]))),
    })
    p = os.path.join(out_dir, "reference.parquet")
    pq.write_table(ref, p)
    inputs.append(("reference", p, "T", "foo"))
    return inputs


def arrow_schema(path):
    if os.path.isdir(path):
        path = sorted(f for f in (os.path.join(path, n) for n in os.listdir(path))
                      if f.endswith(".parquet"))[0]
    return pq.read_schema(path)


def all_inputs(data_dir, out_dir, seed):
    """Every DDL input with its expected bytes per mode:
    [(id, path, table, pk, {mode: expected ddl})]."""
    base = [(t, os.path.join(data_dir, f"{t}.parquet"), t, pk) for t, pk in TABLE_PK.items()]
    res = []
    for i, path, table, pk in base + write_inputs(out_dir, seed):
        sch = arrow_schema(path)
        exp = {m: expected_ddl(sch, table, pk, m) for m in ("legacy", "extended")}
        if i == "reference" and exp["legacy"] != REFERENCE_GOLDEN:
            raise AssertionError("expected-DDL renderer disagrees with the FIXTURES golden")
        res.append((i, path, table, pk, exp))
    return res
