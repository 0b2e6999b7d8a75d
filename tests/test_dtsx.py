"""dtsx ingestion tests: parse the reference's actual sample packages,
bind them to the engine, and execute end-to-end on tiny frames."""

from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from ssis_to_dbt_spark.dtsx import (
    bind_package,
    classify_sql,
    parse_dtsx,
    rewrite_tsql,
    run_package,
)
from ssis_to_dbt_spark.pipeline import topo_order

PKG_DIR = "/root/reference/samples/ssis_packages"


class TestParse:
    def test_sales_fact_structure(self):
        pkg = parse_dtsx(f"{PKG_DIR}/SalesFactETL.dtsx")
        assert pkg.name == "SalesFactETL"
        assert [t.task_type for t in pkg.tasks] == [
            "Microsoft.ExecuteSQLTask",
            "Microsoft.Pipeline",
            "Microsoft.ExecuteSQLTask",
        ]
        flow = pkg.tasks[1]
        assert [c.class_id.rsplit(".", 1)[-1] for c in flow.components] == [
            "OLEDBSource", "Lookup", "Lookup", "Lookup",
            "DerivedColumn", "OLEDBDestination",
        ]
        src = flow.components[0]
        assert [c.name for c in src.output_columns][:3] == [
            "SaleID", "CustomerID", "ProductID"
        ]
        assert src.output_columns[5].data_type == "numeric"
        assert (src.output_columns[5].precision, src.output_columns[5].scale) == (18, 2)
        derived = flow.components[4]
        assert derived.output_columns[0].expression == "[Quantity] * [UnitPrice]"
        assert len(pkg.constraints) == 2

    def test_variables_typed(self):
        pkg = parse_dtsx(f"{PKG_DIR}/SalesFactETL.dtsx")
        vals = pkg.variable_values()
        assert vals["User::StartDate"] == datetime(2024, 1, 1)
        assert vals["User::RowCount"] == 0

    def test_connection_managers(self):
        pkg = parse_dtsx(f"{PKG_DIR}/CustomerDataLoad.dtsx")
        names = [c.name for c in pkg.connection_managers]
        assert names == ["SourceDB", "TargetDW"]
        assert "CRMSRV" in pkg.connection_managers[0].connection_string

    def test_inventory_task_mix(self):
        pkg = parse_dtsx(f"{PKG_DIR}/InventorySync.dtsx")
        kinds = [t.task_type.rsplit(".", 1)[-1] for t in pkg.tasks]
        assert kinds == [
            "ExecuteSQLTask", "ScriptTask", "Pipeline",
            "ExecuteSQLTask", "SendMailTask",
        ]
        assert pkg.tasks[0].result_type == "ResultSetType_SingleRow"


class TestRewrite:
    def test_table_params_and_top(self):
        sql = "SELECT TOP 1 A FROM etl.SyncLog WHERE T >= ? ORDER BY A DESC;"
        out = rewrite_tsql(
            sql, {"etl.SyncLog": "v_log"}, params=[datetime(2020, 1, 2, 3, 4, 5)]
        )
        assert out == (
            "SELECT A FROM v_log WHERE T >= TIMESTAMP '2020-01-02 03:04:05' "
            "ORDER BY A DESC LIMIT 1"
        )

    def test_variable_binding_and_quoting(self):
        out = rewrite_tsql(
            "SELECT * FROM [dim].[Customer] WHERE N = @Name",
            {"dim.Customer": "v_dim"},
            variables={"User::Name": "O'Brien"},
        )
        assert out == "SELECT * FROM v_dim WHERE N = 'O''Brien'"

    def test_unbound_param_raises(self):
        with pytest.raises(ValueError, match="unbound"):
            rewrite_tsql("SELECT * FROM t WHERE a = ?", {})

    def test_variables_and_views_skip_string_literals(self):
        out = rewrite_tsql(
            "SELECT 'mail @Host' AS v, @Host AS h", {},
            variables={"User::Host": "x"},
        )
        assert out == "SELECT 'mail @Host' AS v, 'x' AS h"
        out = rewrite_tsql(
            "SELECT 'from dbo.Sales' AS v FROM dbo.Sales",
            {"dbo.Sales": "v_sales"},
        )
        assert out == "SELECT 'from dbo.Sales' AS v FROM v_sales"
        # a substituted value is not scanned again
        out = rewrite_tsql(
            "SELECT @A AS a, ? AS b", {},
            params=[1], variables={"User::A": "why? @A"},
        )
        assert out == "SELECT 'why? @A' AS a, 1 AS b"

    @pytest.mark.parametrize(
        "val",
        ["C:\\data\\in.csv", "C:\\out\\", "tab\\t", "O'Brien", "why?"],
    )
    def test_string_values_reach_spark_verbatim(self, spark, val):
        # T-SQL has no backslash escapes; Spark string literals do, so
        # Windows paths and a trailing backslash must survive the rewrite
        lit = "'" + val.replace("'", "''") + "'"
        for sql in (
            rewrite_tsql("SELECT ? AS v", {}, params=[val]),
            rewrite_tsql("SELECT @V AS v", {}, variables={"User::V": val}),
            rewrite_tsql(f"SELECT {lit} AS v", {}),
        ):
            assert spark.sql(sql).collect()[0]["v"] == val, sql

    def test_bound_bracket_like_keeps_backslash(self, spark):
        sql = rewrite_tsql(
            "SELECT x FROM VALUES ('a\\b1'), ('ab1') AS t(x) WHERE x LIKE ?",
            {}, params=["a\\b[0-9]"],
        )
        assert [r["x"] for r in spark.sql(sql).collect()] == ["a\\b1"]

    def test_parenthesized_top(self):
        out = rewrite_tsql("SELECT TOP (5) x FROM t", {"t": "v"})
        assert out == "SELECT x FROM v LIMIT 5"

    def test_ci_fold_where_equality(self):
        """r13 (r12 VERDICT #1): ci=True folds string-literal =/<>/IN
        comparisons to LOWER() form — after parameter substitution, so
        bound values fold too; letterless literals (dates, numbers) and
        range operators stay untouched; literal interiors are never
        treated as code."""
        out = rewrite_tsql(
            "SELECT * FROM etl.L WHERE SyncType = 'Inventory' "
            "AND Status='Success'",
            {"etl.L": "v"}, ci=True,
        )
        assert out == (
            "SELECT * FROM v WHERE LOWER(SyncType) = 'inventory' "
            "AND LOWER(Status) = 'success'"
        )
        # parameterized value folds after substitution
        out = rewrite_tsql(
            "SELECT * FROM t WHERE Status = ?", {"t": "v"},
            params=["Success"], ci=True,
        )
        assert out == "SELECT * FROM v WHERE LOWER(Status) = 'success'"
        # @Var binding folds too
        out = rewrite_tsql(
            "SELECT * FROM t WHERE Status <> @S", {"t": "v"},
            variables={"User::S": "Failed"}, ci=True,
        )
        assert out == "SELECT * FROM v WHERE LOWER(Status) <> 'failed'"
        # IN list folds every member
        out = rewrite_tsql(
            "SELECT * FROM t WHERE Seg IN ('Gold', 'SILVER') AND k=1",
            {"t": "v"}, ci=True,
        )
        assert out == (
            "SELECT * FROM v WHERE LOWER(Seg) IN ('gold', 'silver') AND k=1"
        )
        # reversed literal-first form
        out = rewrite_tsql(
            "SELECT * FROM t WHERE 'Active' = Flag", {"t": "v"}, ci=True,
        )
        assert out == "SELECT * FROM v WHERE 'active' = LOWER(Flag)"
        # letterless literals: CI is a no-op, typed compares stay typed
        out = rewrite_tsql(
            "SELECT * FROM t WHERE d = '2024-01-01' AND name >= 'Abc'",
            {"t": "v"}, ci=True,
        )
        assert out == (
            "SELECT * FROM v WHERE d = '2024-01-01' AND name >= 'Abc'"
        )
        # text inside a literal is never folded as code
        out = rewrite_tsql(
            "SELECT 'status = ''Active''' AS note FROM t", {"t": "v"},
            ci=True,
        )
        assert out == "SELECT 'status = ''Active''' AS note FROM v"
        # LIKE / NOT LIKE fold too (prefix searches on a CI server)
        out = rewrite_tsql(
            "SELECT * FROM t WHERE Name LIKE 'Smi%' AND c NOT LIKE '%X'",
            {"t": "v"}, ci=True,
        )
        assert out == (
            "SELECT * FROM v WHERE LOWER(Name) LIKE 'smi%' "
            "AND LOWER(c) NOT LIKE '%x'"
        )
        # ci=False (default): nothing folds
        out = rewrite_tsql(
            "SELECT * FROM t WHERE Status = 'Success'", {"t": "v"},
        )
        assert out == "SELECT * FROM v WHERE Status = 'Success'"

    def test_classify(self):
        assert classify_sql("SELECT 1") == "runnable"
        assert classify_sql("-- note\nSELECT a FROM b") == "runnable"
        assert classify_sql("TRUNCATE TABLE x;") == "manual"
        assert classify_sql("MERGE dim.c AS t USING s ...") == "manual"
        assert classify_sql("DECLARE @x INT; SELECT 1") == "manual"


class TestExecution:
    @pytest.fixture()
    def sales_tables(self, spark):
        tx = spark.createDataFrame(
            [
                (1, 10, 100, datetime(2024, 1, 5), 2,
                 Decimal("50.00"), Decimal("10.00"), 1, 1, 0),
                (2, 10, 101, datetime(2024, 1, 6), 1,
                 Decimal("30.00"), Decimal("0.00"), 1, 1, 0),
                (3, 11, 100, datetime(2024, 1, 7), 4,
                 Decimal("25.00"), Decimal("5.00"), 2, 2, 0),
                (4, 12, 101, datetime(2024, 1, 8), 1,
                 Decimal("99.00"), Decimal("0.00"), 2, 2, 1),
                (5, 10, 100, datetime(2024, 6, 1), 1,
                 Decimal("10.00"), Decimal("0.00"), 1, 1, 0),
            ],
            "SaleID long, CustomerID int, ProductID int, SaleDate timestamp,"
            "Quantity int, UnitPrice decimal(18,2), DiscountPercent decimal(5,2),"
            "SalesRepID int, StoreID int, IsVoided int",
        )
        dim_customer = spark.createDataFrame(
            [(1010, 10, 1), (1011, 11, 1), (1012, 12, 0)],
            "CustomerKey int, CustomerID int, IsCurrent int",
        )
        dim_product = spark.createDataFrame(
            [(2100, 100, 7, 1), (2101, 101, 8, 1)],
            "ProductKey int, ProductID int, CategoryID int, IsActive int",
        )
        dim_date = spark.createDataFrame(
            [
                (20240105, datetime(2024, 1, 5)),
                (20240106, datetime(2024, 1, 6)),
                (20240107, datetime(2024, 1, 7)),
                (20240108, datetime(2024, 1, 8)),
                (20240601, datetime(2024, 6, 1)),
            ],
            "DateKey int, FullDate timestamp",
        )
        return {
            "sales.Transactions": tx,
            "dim.Customer": dim_customer,
            "dim.Product": dim_product,
            "dim.Date": dim_date,
        }

    def test_sales_fact_end_to_end(self, spark, sales_tables):
        frames, report = run_package(
            spark,
            f"{PKG_DIR}/SalesFactETL.dtsx",
            tables=sales_tables,
            param_bindings={"Sales Source": ["User::StartDate", "User::EndDate"]},
        )
        # package vars pin Jan 2024: sale 5 (June) and sale 4 (voided) drop
        out = {r["SaleID"]: r for r in frames["Load Sales Facts"].collect()}
        assert set(out) == {1, 2, 3}
        r = out[1]
        assert (r["CustomerKey"], r["ProductKey"], r["CategoryID"]) == (1010, 2100, 7)
        assert r["DateKey"] == 20240105
        assert float(r["GrossAmount"]) == 100.00
        assert float(r["DiscountAmount"]) == 10.00
        assert float(r["NetAmount"]) == 90.00
        statuses = {b.name: b.status for b in report}
        assert statuses["Load Sales Facts"] == "bound"
        assert statuses["Pre-ETL Validation"] == "manual_review_required"

    def test_lookup_ignore_failure_yields_null(self, spark, sales_tables):
        # customer 12 is not IsCurrent — NoMatchBehavior 1 keeps the row
        tables = dict(sales_tables)
        tables["sales.Transactions"] = tables["sales.Transactions"].withColumn(
            "IsVoided", F.lit(0)
        )
        frames, _ = run_package(
            spark, f"{PKG_DIR}/SalesFactETL.dtsx", tables=tables,
            param_bindings={"Sales Source": ["User::StartDate", "User::EndDate"]},
        )
        out = {r["SaleID"]: r for r in frames["Load Sales Facts"].collect()}
        assert out[4]["CustomerKey"] is None

    def test_date_lookup_fail_component_raises(self, spark, sales_tables):
        # NoMatchBehavior 0 on Lookup Date: a SaleDate missing from dim.Date
        # must fail the component, not silently null out
        tables = dict(sales_tables)
        tables["dim.Date"] = tables["dim.Date"].filter("DateKey <> 20240106")
        with pytest.raises(Exception, match="FailComponent"):
            frames, _ = run_package(
                spark, f"{PKG_DIR}/SalesFactETL.dtsx", tables=tables,
                param_bindings={
                    "Sales Source": ["User::StartDate", "User::EndDate"]
                },
            )

    def test_precedence_becomes_deps(self, spark, sales_tables):
        pkg = parse_dtsx(f"{PKG_DIR}/SalesFactETL.dtsx")
        pipe, _ = bind_package(
            spark, pkg, sales_tables,
            param_bindings={"Sales Source": ["User::StartDate", "User::EndDate"]},
        )
        assert pipe.models["Load Sales Facts"].deps == ["Pre-ETL Validation"]
        assert pipe.models["Update Aggregates"].deps == ["Load Sales Facts"]
        assert topo_order(pipe.models) == [
            "Pre-ETL Validation", "Load Sales Facts", "Update Aggregates"
        ]

    def test_sql_handler_reads_dataflow_view(self, spark, sales_tables):
        # a caller handler for the MERGE-style task can read the destination
        # temp view the dataflow registered ([fact].[Sales])
        def update_aggregates(frames, vars_):
            return spark.sql(
                "SELECT DateKey, SUM(Quantity) AS q FROM salesfactetl__fact_sales "
                "GROUP BY DateKey"
            )

        frames, report = run_package(
            spark, f"{PKG_DIR}/SalesFactETL.dtsx", tables=sales_tables,
            param_bindings={"Sales Source": ["User::StartDate", "User::EndDate"]},
            sql_handlers={"Update Aggregates": update_aggregates},
        )
        agg = {r["DateKey"]: r["q"] for r in frames["Update Aggregates"].collect()}
        assert agg == {20240105: 2, 20240106: 1, 20240107: 4}
        statuses = {b.name: b.status for b in report}
        assert statuses["Update Aggregates"] == "bound"

    def test_runnable_sql_task_single_row(self, spark):
        synclog = spark.createDataFrame(
            [
                (datetime(2024, 2, 1), "Inventory", "Success"),
                (datetime(2024, 3, 1), "Inventory", "Success"),
                (datetime(2024, 4, 1), "Inventory", "Failed"),
            ],
            "LastSyncTime timestamp, SyncType string, Status string",
        )
        stg = spark.createDataFrame(
            [("SKU-1", "W1", 50, 10, 40, datetime(2024, 1, 1).date(), 20, 100,
              Decimal("2.5000"), 0)],
            "ProductSKU string, WarehouseCode string, QuantityOnHand int,"
            "QuantityReserved int, QuantityAvailable int, LastCountDate date,"
            "ReorderPoint int, MaxStockLevel int, UnitCost decimal(18,4),"
            "ProcessedFlag int",
        )
        dim_product = spark.createDataFrame(
            [(900, "SKU-1", 1)], "ProductKey int, SKU string, IsActive int"
        )
        dim_wh = spark.createDataFrame(
            [(501, "W1")], "WarehouseKey int, WarehouseCode string"
        )
        frames, report = run_package(
            spark, f"{PKG_DIR}/InventorySync.dtsx",
            tables={
                "etl.SyncLog": synclog, "stg.InventoryAPI": stg,
                "dim.Product": dim_product, "dim.Warehouse": dim_wh,
            },
        )
        # TOP 1 ... ORDER BY DESC over Success rows only
        assert frames["Get Last Sync Time"].collect() == [
            (datetime(2024, 3, 1),)
        ]
        inv = frames["Load Inventory Updates"].first()
        assert inv["ProductKey"] == 900 and inv["WarehouseKey"] == 501
        assert inv["StockStatus"] == "In Stock"
        assert inv["DaysOfSupply"] == 60  # (40/20)*30
        assert float(inv["InventoryValue"]) == 125.0
        statuses = {b.name: b.status for b in report}
        assert statuses["Call Inventory API"] == "manual_review_required"
        assert statuses["Send Completion Email"] == "documented_only"

    def test_customer_load_derived_columns(self, spark):
        crm = spark.createDataFrame(
            [
                (1, "Ada", "Lovelace", "ada@analytical.org", "555",
                 datetime(2023, 1, 1), datetime(2024, 1, 20)),
                (2, "Old", "Row", "old@x.org", "555",
                 datetime(2023, 1, 1), datetime(2023, 6, 1)),
            ],
            "CustomerID int, FirstName string, LastName string, Email string,"
            "Phone string, CreatedDate timestamp, ModifiedDate timestamp",
        )
        frames, _ = run_package(
            spark, f"{PKG_DIR}/CustomerDataLoad.dtsx",
            tables={"crm.Customers": crm},
            param_bindings={"OLE DB Source": ["User::LoadDate"]},
        )
        rows = frames["Load Customer Data"].collect()
        assert len(rows) == 1  # LoadDate=2024-01-15 filters the stale row
        r = rows[0]
        assert r["FullName"] == "Ada Lovelace"
        assert r["EmailDomain"] == "analytical.org"


def _write_pkg(tmp_path, body, name="Synth", conn_mgrs=""):
    xml = f'''<?xml version="1.0"?>
<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts"
                xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask"
                DTS:ObjectName="{name}">
  <DTS:ConnectionManagers>{conn_mgrs}</DTS:ConnectionManagers>
  <DTS:Executables>
    <DTS:Executable DTS:refId="Package\\Flow"
                    DTS:ExecutableType="Microsoft.Pipeline"
                    DTS:ObjectName="Flow">
      <DTS:ObjectData><pipeline version="1">{body}</pipeline></DTS:ObjectData>
    </DTS:Executable>
  </DTS:Executables>
</DTS:Executable>'''
    p = tmp_path / f"{name}.dtsx"
    p.write_text(xml)
    return str(p)


class TestExtendedComponents:
    """The full reference-parser component vocabulary
    (src/parser/constants.py:22-39) bound through synthetic packages, with
    <paths>-wired branching where SSIS needs it."""

    def _orders(self, spark):
        return spark.createDataFrame(
            [
                (1, Decimal("150.00"), "W"),
                (2, Decimal("50.00"), "W"),
                (3, Decimal("200.00"), "E"),
                (4, Decimal("10.00"), "E"),
            ],
            "OrderID int, Amount decimal(18,2), Region string",
        )

    def test_conditional_split_routes_by_paths(self, spark, tmp_path):
        body = '''<components>
          <component refId="Package\\Flow\\Src" componentClassID="Microsoft.OLEDBSource" name="Src">
            <properties><property name="OpenRowset">src.Orders</property></properties>
            <outputs><output refId="Package\\Flow\\Src.Outputs[O]" name="O"><outputColumns>
              <outputColumn name="OrderID" dataType="i4"/>
              <outputColumn name="Amount" dataType="numeric" precision="18" scale="2"/>
              <outputColumn name="Region" dataType="wstr" length="10"/>
            </outputColumns></output></outputs>
          </component>
          <component refId="Package\\Flow\\Split" componentClassID="Microsoft.ConditionalSplit" name="Split">
            <outputs>
              <output refId="Package\\Flow\\Split.Outputs[Big]" name="Big">
                <properties><property name="Expression">[Amount] &gt; 100</property>
                <property name="EvaluationOrder">0</property></properties>
              </output>
              <output refId="Package\\Flow\\Split.Outputs[West]" name="West">
                <properties><property name="Expression">[Region] == "W"</property>
                <property name="EvaluationOrder">1</property></properties>
              </output>
              <output refId="Package\\Flow\\Split.Outputs[Rest]" name="Rest"/>
            </outputs>
          </component>
          <component refId="Package\\Flow\\DBig" componentClassID="Microsoft.OLEDBDestination" name="DBig">
            <properties><property name="OpenRowset">[out].[Big]</property></properties>
          </component>
          <component refId="Package\\Flow\\DWest" componentClassID="Microsoft.OLEDBDestination" name="DWest">
            <properties><property name="OpenRowset">[out].[West]</property></properties>
          </component>
          <component refId="Package\\Flow\\DRest" componentClassID="Microsoft.OLEDBDestination" name="DRest">
            <properties><property name="OpenRowset">[out].[Rest]</property></properties>
          </component>
        </components>
        <paths>
          <path startId="Package\\Flow\\Src.Outputs[O]" endId="Package\\Flow\\Split.Inputs[I]"/>
          <path startId="Package\\Flow\\Split.Outputs[Big]" endId="Package\\Flow\\DBig.Inputs[I]"/>
          <path startId="Package\\Flow\\Split.Outputs[West]" endId="Package\\Flow\\DWest.Inputs[I]"/>
          <path startId="Package\\Flow\\Split.Outputs[Rest]" endId="Package\\Flow\\DRest.Inputs[I]"/>
        </paths>'''
        path = _write_pkg(tmp_path, body, "SplitPkg")
        run_package(spark, path, tables={"src.Orders": self._orders(spark)})
        big = {r["OrderID"] for r in spark.table("splitpkg__out_big").collect()}
        west = {r["OrderID"] for r in spark.table("splitpkg__out_west").collect()}
        rest = {r["OrderID"] for r in spark.table("splitpkg__out_rest").collect()}
        assert big == {1, 3}      # first-match wins: order 1 is Big, not West
        assert west == {2}
        assert rest == {4}

    def test_mergejoin_aggregate(self, spark, tmp_path):
        body = '''<components>
          <component refId="Package\\Flow\\A" componentClassID="Microsoft.OLEDBSource" name="A">
            <properties><property name="OpenRowset">src.Orders</property></properties>
          </component>
          <component refId="Package\\Flow\\B" componentClassID="Microsoft.OLEDBSource" name="B">
            <properties><property name="OpenRowset">src.Regions</property></properties>
          </component>
          <component refId="Package\\Flow\\MJ" componentClassID="Microsoft.MergeJoin" name="MJ">
            <properties><property name="JoinType">2</property>
            <property name="JoinKeys">Region</property></properties>
          </component>
          <component refId="Package\\Flow\\Agg" componentClassID="Microsoft.Aggregate" name="Agg">
            <outputs><output refId="Package\\Flow\\Agg.Outputs[O]" name="O"><outputColumns>
              <outputColumn name="RegionName" dataType="wstr" length="20">
                <properties><property name="AggregationType">group_by</property>
                <property name="SourceInputColumn">RegionName</property></properties>
              </outputColumn>
              <outputColumn name="Total" dataType="numeric" precision="18" scale="2">
                <properties><property name="AggregationType">sum</property>
                <property name="SourceInputColumn">Amount</property></properties>
              </outputColumn>
              <outputColumn name="Cnt" dataType="i4">
                <properties><property name="AggregationType">count_all</property></properties>
              </outputColumn>
            </outputColumns></output></outputs>
          </component>
          <component refId="Package\\Flow\\D" componentClassID="Microsoft.OLEDBDestination" name="D">
            <properties><property name="OpenRowset">[out].[Agg]</property></properties>
          </component>
        </components>
        <paths>
          <path startId="Package\\Flow\\A.Outputs[O]" endId="Package\\Flow\\MJ.Inputs[Left]"/>
          <path startId="Package\\Flow\\B.Outputs[O]" endId="Package\\Flow\\MJ.Inputs[Right]"/>
          <path startId="Package\\Flow\\MJ.Outputs[O]" endId="Package\\Flow\\Agg.Inputs[I]"/>
          <path startId="Package\\Flow\\Agg.Outputs[O]" endId="Package\\Flow\\D.Inputs[I]"/>
        </paths>'''
        regions = spark.createDataFrame(
            [("W", "West Coast"), ("E", "East Coast")],
            "Region string, RegionName string",
        )
        path = _write_pkg(tmp_path, body, "JoinAgg")
        frames, _ = run_package(
            spark, path,
            tables={"src.Orders": self._orders(spark), "src.Regions": regions},
        )
        got = {
            r["RegionName"]: (float(r["Total"]), r["Cnt"])
            for r in spark.table("joinagg__out_agg").collect()
        }
        assert got == {"West Coast": (200.0, 2), "East Coast": (210.0, 2)}

    def test_dataconversion_sort_rowcount_linear(self, spark, tmp_path):
        # no <paths>: document-order chaining through the new components
        body = '''<components>
          <component refId="Package\\Flow\\Src" componentClassID="Microsoft.OLEDBSource" name="Src">
            <properties><property name="OpenRowset">src.Orders</property></properties>
          </component>
          <component refId="Package\\Flow\\Conv" componentClassID="Microsoft.DataConversion" name="Conv">
            <outputs><output refId="Package\\Flow\\Conv.Outputs[O]" name="O"><outputColumns>
              <outputColumn name="Copy of Amount" dataType="r8"/>
            </outputColumns></output></outputs>
          </component>
          <component refId="Package\\Flow\\RC" componentClassID="Microsoft.RowCount" name="RC">
            <properties><property name="VariableName">User::Rows</property></properties>
          </component>
          <component refId="Package\\Flow\\Sort" componentClassID="Microsoft.Sort" name="Sort">
            <inputs><input refId="Package\\Flow\\Sort.Inputs[I]" name="I"><inputColumns>
              <inputColumn cachedName="Amount" sortKeyPosition="-1"/>
            </inputColumns></input></inputs>
          </component>
          <component refId="Package\\Flow\\D" componentClassID="Microsoft.OLEDBDestination" name="D">
            <properties><property name="OpenRowset">[out].[Sorted]</property></properties>
          </component>
        </components>'''
        path = _write_pkg(tmp_path, body, "ConvSort")
        pkg = parse_dtsx(path)
        pipe, _ = bind_package(
            spark, pkg, tables={"src.Orders": self._orders(spark)}
        )
        frames = pipe.run({})
        rows = frames["Flow"].collect()
        assert [r["OrderID"] for r in rows] == [3, 1, 2, 4]  # Amount desc
        assert isinstance(rows[0]["Copy of Amount"], float)
        assert pipe.vars["User::Rows"] == 4  # RowCount -> package variable

    def test_lookup_no_match_output_via_paths(self, spark, tmp_path):
        body = '''<components>
          <component refId="Package\\Flow\\Src" componentClassID="Microsoft.OLEDBSource" name="Src">
            <properties><property name="OpenRowset">src.Orders</property></properties>
          </component>
          <component refId="Package\\Flow\\LK" componentClassID="Microsoft.Lookup" name="LK">
            <properties><property name="SqlCommand">SELECT RegionName, Region FROM dim.Region</property>
            <property name="NoMatchBehavior">1</property></properties>
            <inputs><input refId="Package\\Flow\\LK.Inputs[I]" name="I"><inputColumns>
              <inputColumn cachedName="Region"/>
            </inputColumns></input></inputs>
            <outputs><output refId="Package\\Flow\\LK.Outputs[Lookup Match Output]" name="Lookup Match Output"><outputColumns>
              <outputColumn name="RegionName" dataType="wstr" length="20"/>
            </outputColumns></output></outputs>
          </component>
          <component refId="Package\\Flow\\DM" componentClassID="Microsoft.OLEDBDestination" name="DM">
            <properties><property name="OpenRowset">[out].[Matched]</property></properties>
          </component>
          <component refId="Package\\Flow\\DN" componentClassID="Microsoft.OLEDBDestination" name="DN">
            <properties><property name="OpenRowset">[out].[Missed]</property></properties>
          </component>
        </components>
        <paths>
          <path startId="Package\\Flow\\Src.Outputs[O]" endId="Package\\Flow\\LK.Inputs[I]"/>
          <path startId="Package\\Flow\\LK.Outputs[Lookup Match Output]" endId="Package\\Flow\\DM.Inputs[I]"/>
          <path startId="Package\\Flow\\LK.Outputs[Lookup No Match Output]" endId="Package\\Flow\\DN.Inputs[I]"/>
        </paths>'''
        dim = spark.createDataFrame(
            [("West Coast", "W")], "RegionName string, Region string"
        )
        path = _write_pkg(tmp_path, body, "NoMatch")
        run_package(
            spark, path,
            tables={"src.Orders": self._orders(spark), "dim.Region": dim},
        )
        matched = spark.table("nomatch__out_matched")
        missed = spark.table("nomatch__out_missed")
        assert {r["OrderID"] for r in matched.collect()} == {1, 2, 3, 4}
        assert {
            r["OrderID"]: r["RegionName"] for r in matched.collect()
        }[3] is None  # IgnoreFailure keeps E rows with NULL
        assert {r["OrderID"] for r in missed.collect()} == {3, 4}

    def test_flatfile_source_and_destination(self, spark, tmp_path):
        src_csv = tmp_path / "in.csv"
        src_csv.write_text("OrderID,Amount\n1,10.5\n2,20.5\n")
        out_dir = str(tmp_path / "outcsv")
        conn = f'''
        <DTS:ConnectionManager DTS:refId="Package.ConnectionManagers[InFile]" DTS:ObjectName="InFile">
          <DTS:ObjectData><DTS:ConnectionManager DTS:ConnectionString="{src_csv}"/></DTS:ObjectData>
        </DTS:ConnectionManager>
        <DTS:ConnectionManager DTS:refId="Package.ConnectionManagers[OutFile]" DTS:ObjectName="OutFile">
          <DTS:ObjectData><DTS:ConnectionManager DTS:ConnectionString="{out_dir}"/></DTS:ObjectData>
        </DTS:ConnectionManager>'''
        body = '''<components>
          <component refId="Package\\Flow\\FF" componentClassID="Microsoft.FlatFileSource" name="FF">
            <connections><connection refId="c1" connectionManagerRefId="Package.ConnectionManagers[InFile]" name="FlatFile"/></connections>
            <outputs><output refId="Package\\Flow\\FF.Outputs[O]" name="O"><outputColumns>
              <outputColumn name="OrderID" dataType="i4"/>
              <outputColumn name="Amount" dataType="r8"/>
            </outputColumns></output></outputs>
          </component>
          <component refId="Package\\Flow\\D" componentClassID="Microsoft.FlatFileDestination" name="D">
            <connections><connection refId="c2" connectionManagerRefId="Package.ConnectionManagers[OutFile]" name="FlatFile"/></connections>
          </component>
        </components>'''
        path = _write_pkg(tmp_path, body, "FlatPkg", conn_mgrs=conn)
        frames, report = run_package(spark, path, tables={})
        assert {b.name: b.status for b in report}["Flow"] == "bound"
        back = {r["OrderID"]: r["Amount"] for r in frames["Flow"].collect()}
        assert back == {1: 10.5, 2: 20.5}

    def test_unsupported_component_raises(self, spark, tmp_path):
        body = '''<components>
          <component refId="Package\\Flow\\X" componentClassID="Microsoft.Multicast" name="X"/>
        </components>'''
        path = _write_pkg(tmp_path, body, "BadPkg")
        with pytest.raises(Exception, match="unsupported data-flow component"):
            run_package(spark, path, tables={})


BS = "\\"


class TestContainers:
    """Sequence / ForEachLoop / ForLoop containers (the reference's
    EXECUTABLE_TYPES vocabulary, src/parser/constants.py:11-19)."""

    def _pkg_xml(self, tmp_path, executables, constraints="", name="Cont",
                 variables=""):
        xml = ('<?xml version="1.0"?>\n'
               '<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts" '
               'xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask" '
               f'DTS:ObjectName="{name}">'
               f'<DTS:Variables>{variables}</DTS:Variables>'
               f'<DTS:Executables>{executables}</DTS:Executables>'
               f'<DTS:PrecedenceConstraints>{constraints}'
               '</DTS:PrecedenceConstraints></DTS:Executable>')
        p = tmp_path / f"{name}.dtsx"
        p.write_text(xml)
        return str(p)

    def _sql_task(self, ref, name, sql):
        return (f'<DTS:Executable DTS:refId="{ref}" '
                'DTS:ExecutableType="Microsoft.ExecuteSQLTask" '
                f'DTS:ObjectName="{name}">'
                '<DTS:ObjectData><SQLTask:SqlTaskData SQLTask:Connection="c" '
                f'SQLTask:SqlStatementSource="{sql}"/></DTS:ObjectData>'
                '</DTS:Executable>')

    def test_sequence_flattens_with_boundary_deps(self, spark, tmp_path):
        pre = self._sql_task("Package" + BS + "Pre", "Pre", "SELECT 1 AS a")
        s1 = self._sql_task("Package" + BS + "Seq" + BS + "S1", "S1",
                            "SELECT 2 AS a")
        s2 = self._sql_task("Package" + BS + "Seq" + BS + "S2", "S2",
                            "SELECT 3 AS a")
        post = self._sql_task("Package" + BS + "Post", "Post", "SELECT 4 AS a")
        seq = (pre
               + f'<DTS:Executable DTS:refId="Package{BS}Seq" '
                 'DTS:ExecutableType="Microsoft.Sequence" DTS:ObjectName="Seq">'
                 f'<DTS:Executables>{s1}{s2}</DTS:Executables>'
                 '<DTS:PrecedenceConstraints>'
                 f'<DTS:PrecedenceConstraint DTS:From="Package{BS}Seq{BS}S1" '
                 f'DTS:To="Package{BS}Seq{BS}S2"/>'
                 '</DTS:PrecedenceConstraints></DTS:Executable>'
               + post)
        constraints = (
            f'<DTS:PrecedenceConstraint DTS:From="Package{BS}Pre" '
            f'DTS:To="Package{BS}Seq"/>'
            f'<DTS:PrecedenceConstraint DTS:From="Package{BS}Seq" '
            f'DTS:To="Package{BS}Post"/>')
        path = self._pkg_xml(tmp_path, seq, constraints, "SeqPkg")
        pkg = parse_dtsx(path)
        pipe, report = bind_package(spark, pkg, tables={})
        # container flattened: 4 models, boundary edges expanded to members
        assert set(pipe.models) == {"Pre", "S1", "S2", "Post"}
        assert pipe.models["S1"].deps == ["Pre"]
        assert sorted(pipe.models["S2"].deps) == ["Pre", "S1"]
        assert sorted(pipe.models["Post"].deps) == ["S1", "S2"]
        assert topo_order(pipe.models) == ["Pre", "S1", "S2", "Post"]
        frames = pipe.run({})
        assert frames["S2"].collect()[0]["a"] == 3

    def test_foreach_loop_runs_children_per_item(self, spark, tmp_path):
        q = self._sql_task(
            "Package" + BS + "Loop" + BS + "Q", "Q",
            "SELECT Segment, COUNT(*) AS n FROM src.Rows "
            "WHERE Segment = @Seg GROUP BY Segment")
        loop = (f'<DTS:Executable DTS:refId="Package{BS}Loop" '
                'DTS:ExecutableType="Microsoft.ForEachLoop" '
                'DTS:ObjectName="Loop">'
                '<DTS:ObjectData><DTS:ForEachEnumerator><FEIEItems>'
                '<FEIEItem><FEIEItemValue DTS:DataType="8" DTS:Value="HIGH"/></FEIEItem>'
                '<FEIEItem><FEIEItemValue DTS:DataType="8" DTS:Value="LOW"/></FEIEItem>'
                '</FEIEItems></DTS:ForEachEnumerator></DTS:ObjectData>'
                '<DTS:ForEachVariableMappings>'
                '<DTS:ForEachVariableMapping DTS:VariableName="User::Seg" '
                'DTS:ValueIndex="0"/></DTS:ForEachVariableMappings>'
                f'<DTS:Executables>{q}</DTS:Executables></DTS:Executable>')
        path = self._pkg_xml(tmp_path, loop, name="FEPkg")
        src = spark.createDataFrame(
            [("HIGH",), ("HIGH",), ("LOW",), ("MID",)], "Segment string"
        )
        frames, report = run_package(spark, path, tables={"src.Rows": src})
        got = {r["Segment"]: r["n"] for r in frames["Loop"].collect()}
        assert got == {"HIGH": 2, "LOW": 1}  # one run per enumerator item
        assert {b.name: b.status for b in report}["Loop"] == "bound"

    def test_for_loop_counter(self, spark, tmp_path):
        q = self._sql_task("Package" + BS + "Loop" + BS + "Q", "Q",
                           "SELECT @Counter AS i, @Counter * 10 AS v")
        loop = (f'<DTS:Executable DTS:refId="Package{BS}Loop" '
                'DTS:ExecutableType="Microsoft.ForLoop" DTS:ObjectName="Loop" '
                'DTS:InitExpression="@Counter = 0" '
                'DTS:EvalExpression="@Counter &lt; 3" '
                'DTS:AssignExpression="@Counter = @Counter + 1">'
                f'<DTS:Executables>{q}</DTS:Executables></DTS:Executable>')
        path = self._pkg_xml(tmp_path, loop, name="FLPkg")
        frames, _ = run_package(spark, path, tables={})
        got = sorted((r["i"], r["v"]) for r in frames["Loop"].collect())
        assert got == [(0, 0), (1, 10), (2, 20)]

    def test_duplicate_task_names_raise(self, spark, tmp_path):
        t1 = self._sql_task("Package" + BS + "A", "T", "SELECT 1 AS a")
        t2 = self._sql_task("Package" + BS + "B", "T", "SELECT 2 AS a")
        path = self._pkg_xml(tmp_path, t1 + t2, name="DupPkg")
        with pytest.raises(ValueError, match="duplicate task name"):
            bind_package(spark, parse_dtsx(path), tables={})


class TestVariableExpressions:
    def test_expression_variables_evaluate_in_dependency_order(
        self, spark, tmp_path
    ):
        variables = (
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="Base">'
            '<DTS:VariableValue DTS:DataType="3">100</DTS:VariableValue>'
            '</DTS:Variable>'
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="Limit" '
            'DTS:Expression="@[User::Base] * 2">'
            '<DTS:VariableValue DTS:DataType="3">0</DTS:VariableValue>'
            '</DTS:Variable>'
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="Msg" '
            'DTS:Expression="&quot;limit=&quot; + (DT_WSTR, 10) @[User::Limit]">'
            '<DTS:VariableValue DTS:DataType="8"></DTS:VariableValue>'
            '</DTS:Variable>'
        )
        q = TestContainers()._sql_task(
            "Package" + BS + "Q", "Q", "SELECT @Limit AS v, @Msg AS m"
        )
        path = TestContainers()._pkg_xml(
            tmp_path, q, name="VarExpr", variables=variables
        )
        frames, _ = run_package(spark, path, tables={})
        row = frames["Q"].first()
        assert row["v"] == 200
        assert row["m"] == "limit=200"

    def test_caller_override_beats_expression(self, spark, tmp_path):
        variables = (
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="Limit" '
            'DTS:Expression="1 + 1">'
            '<DTS:VariableValue DTS:DataType="3">0</DTS:VariableValue>'
            '</DTS:Variable>'
        )
        q = TestContainers()._sql_task("Package" + BS + "Q", "Q",
                                       "SELECT @Limit AS v")
        path = TestContainers()._pkg_xml(
            tmp_path, q, name="VarOvr", variables=variables
        )
        frames, _ = run_package(
            spark, path, tables={}, variables={"User::Limit": 7}
        )
        assert frames["Q"].first()["v"] == 7

    def test_cyclic_expressions_raise(self, spark, tmp_path):
        variables = (
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="A" '
            'DTS:Expression="@[User::B] + 1">'
            '<DTS:VariableValue DTS:DataType="3">0</DTS:VariableValue>'
            '</DTS:Variable>'
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="B" '
            'DTS:Expression="@[User::A] + 1">'
            '<DTS:VariableValue DTS:DataType="3">0</DTS:VariableValue>'
            '</DTS:Variable>'
        )
        q = TestContainers()._sql_task("Package" + BS + "Q", "Q", "SELECT 1 AS v")
        path = TestContainers()._pkg_xml(
            tmp_path, q, name="VarCyc", variables=variables
        )
        with pytest.raises(ValueError, match="variable expressions"):
            run_package(spark, path, tables={})


class TestLookupCacheMode:
    def test_partial_cache_joins_without_broadcast(self, spark, tmp_path):
        # CacheType 1 (Partial) -> dim too big to broadcast: plan must use a
        # non-broadcast join; CacheType 0 (Full) -> BroadcastHashJoin
        def pkg_for(cache_type):
            body = (
                '<components>'
                '<component refId="P\\F\\S" componentClassID="Microsoft.OLEDBSource" name="S">'
                '<properties><property name="OpenRowset">src.F</property></properties>'
                '</component>'
                '<component refId="P\\F\\L" componentClassID="Microsoft.Lookup" name="L">'
                '<properties><property name="SqlCommand">SELECT V, K FROM dim.D</property>'
                f'<property name="CacheType">{cache_type}</property>'
                '<property name="NoMatchBehavior">1</property></properties>'
                '<inputs><input refId="i" name="I"><inputColumns>'
                '<inputColumn cachedName="K"/></inputColumns></input></inputs>'
                '<outputs><output refId="o" name="Lookup Match Output"><outputColumns>'
                '<outputColumn name="V" dataType="i4"/></outputColumns></output></outputs>'
                '</component>'
                '</components>'
            )
            return _write_pkg(tmp_path, body, f"Cache{cache_type}")

        fact = spark.createDataFrame([(1,), (2,)], "K int")
        dim = spark.createDataFrame([(10, 1), (20, 2)], "V int, K int")
        for cache_type, want_broadcast in ((0, True), (1, False)):
            frames, _ = run_package(
                spark, pkg_for(cache_type),
                tables={"src.F": fact, "dim.D": dim},
            )
            df = frames["Flow"]
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"))
            assert ("BroadcastHashJoin" in plan) == want_broadcast, cache_type
            assert {r["K"]: r["V"] for r in df.collect()} == {1: 10, 2: 20}


class TestCollationCi:
    """r11 (r10 VERDICT #3): ``collation_ci=True`` on run_package /
    bind_package gives bound Lookups and MergeJoins SQL Server
    default-collation (case-insensitive) string-key compare — the
    server-side semantics the reference packages' joins inherit.  The
    default stays case-sensitive, so the flag is the migration knob for
    mixed-case key data."""

    BODY = (
        '<components>'
        '<component refId="P\\F\\S" componentClassID="Microsoft.OLEDBSource" name="S">'
        '<properties><property name="OpenRowset">src.F</property></properties>'
        '</component>'
        '<component refId="P\\F\\L" componentClassID="Microsoft.Lookup" name="L">'
        '<properties><property name="SqlCommand">SELECT Code, Seg FROM dim.D</property>'
        '<property name="NoMatchBehavior">1</property></properties>'
        '<inputs><input refId="i" name="I"><inputColumns>'
        '<inputColumn cachedName="Seg"/></inputColumns></input></inputs>'
        '<outputs><output refId="o" name="Lookup Match Output"><outputColumns>'
        '<outputColumn name="Code" dataType="wstr" length="10"/>'
        '</outputColumns></output></outputs>'
        '</component>'
        '</components>'
    )

    def _tables(self, spark):
        fact = spark.createDataFrame(
            [(1, "Alpha"), (2, "ALPHA"), (3, "beta")], "K int, Seg string"
        )
        dim = spark.createDataFrame(
            [("A", "alpha"), ("B", "BETA")], "Code string, Seg string"
        )
        return {"src.F": fact, "dim.D": dim}

    def test_lookup_binds_ci_and_preserves_case(self, spark, tmp_path):
        path = _write_pkg(tmp_path, self.BODY, "CiPkg")
        frames, _ = run_package(
            spark, path, tables=self._tables(spark), collation_ci=True
        )
        rows = {r["K"]: (r["Seg"], r["Code"]) for r in frames["Flow"].collect()}
        assert rows == {
            1: ("Alpha", "A"), 2: ("ALPHA", "A"), 3: ("beta", "B"),
        }
        # default stays case-sensitive: no dim key matches literally
        frames_cs, _ = run_package(
            spark, path, tables=self._tables(spark)
        )
        assert {r["Code"] for r in frames_cs["Flow"].collect()} == {None}

    def test_mergejoin_binds_ci(self, spark, tmp_path):
        body = (
            '<components>'
            '<component refId="P\\F\\A" componentClassID="Microsoft.OLEDBSource" name="A">'
            '<properties><property name="OpenRowset">src.F</property></properties>'
            '</component>'
            '<component refId="P\\F\\B" componentClassID="Microsoft.OLEDBSource" name="B">'
            '<properties><property name="OpenRowset">dim.D</property></properties>'
            '</component>'
            '<component refId="P\\F\\MJ" componentClassID="Microsoft.MergeJoin" name="MJ">'
            '<properties><property name="JoinType">2</property>'
            '<property name="JoinKeys">Seg</property></properties>'
            '</component>'
            '</components>'
            '<paths>'
            '<path startId="P\\F\\A.Outputs[O]" endId="P\\F\\MJ.Inputs[Left]"/>'
            '<path startId="P\\F\\B.Outputs[O]" endId="P\\F\\MJ.Inputs[Right]"/>'
            '</paths>'
        )
        path = _write_pkg(tmp_path, body, "CiJoin")
        frames, _ = run_package(
            spark, path, tables=self._tables(spark), collation_ci=True
        )
        rows = {r["K"]: r["Code"] for r in frames["Flow"].collect()}
        assert rows == {1: "A", 2: "A", 3: "B"}
        frames_cs, _ = run_package(spark, path, tables=self._tables(spark))
        assert frames_cs["Flow"].count() == 0

    def test_aggregate_binds_ci_group_by(self, spark, tmp_path):
        """r12 (r11 VERDICT #4): an SSIS Aggregate grouping on a string
        column under collation_ci folds case variants into one group —
        the CI server's cardinality — with the MIN-case representative;
        the default keeps Spark's case-sensitive 3-group answer."""
        body = (
            '<components>'
            '<component refId="P\\F\\S" componentClassID="Microsoft.OLEDBSource" name="S">'
            '<properties><property name="OpenRowset">src.F</property></properties>'
            '</component>'
            '<component refId="P\\F\\AG" componentClassID="Microsoft.Aggregate" name="AG">'
            '<outputs><output refId="o" name="Aggregate Output 1"><outputColumns>'
            '<outputColumn name="Seg"><properties>'
            '<property name="AggregationType">group_by</property>'
            '</properties></outputColumn>'
            '<outputColumn name="N"><properties>'
            '<property name="AggregationType">count_all</property>'
            '</properties></outputColumn>'
            '</outputColumns></output></outputs>'
            '</component>'
            '</components>'
        )
        path = _write_pkg(tmp_path, body, "CiAgg")
        frames, _ = run_package(
            spark, path, tables=self._tables(spark), collation_ci=True
        )
        got = {r["Seg"]: r["N"] for r in frames["Flow"].collect()}
        # 'Alpha'/'ALPHA' fold together (MIN-case rep 'ALPHA'); 'beta' alone
        assert got == {"ALPHA": 2, "beta": 1}
        frames_cs, _ = run_package(spark, path, tables=self._tables(spark))
        assert frames_cs["Flow"].count() == 3

    def test_sort_binds_ci_order(self, spark, tmp_path):
        """A Sort component under collation_ci orders by the lower()
        fold (original value as tiebreak) — 'beta' sorts between the
        alpha variants and the z-row, where case-sensitive binary order
        would put lowercase after every uppercase value."""
        body = (
            '<components>'
            '<component refId="P\\F\\S" componentClassID="Microsoft.OLEDBSource" name="S">'
            '<properties><property name="OpenRowset">src.S</property></properties>'
            '</component>'
            '<component refId="P\\F\\SO" componentClassID="Microsoft.Sort" name="SO">'
            '<inputs><input refId="i" name="I"><inputColumns>'
            '<inputColumn cachedName="Seg" sortKeyPosition="1"/>'
            '<inputColumn cachedName="K" sortKeyPosition="2"/>'
            '</inputColumns></input></inputs>'
            '</component>'
            '</components>'
        )
        src = spark.createDataFrame(
            [(1, "beta"), (2, "ALPHA"), (3, "Zed"), (4, "alpha")],
            "K int, Seg string",
        )
        path = _write_pkg(tmp_path, body, "CiSort")
        frames, _ = run_package(
            spark, path, tables={"src.S": src}, collation_ci=True
        )
        order = [r["K"] for r in frames["Flow"].collect()]
        assert order == [2, 4, 1, 3]  # ALPHA, alpha, beta, Zed
        frames_cs, _ = run_package(spark, path, tables={"src.S": src})
        # binary order: uppercase block first
        assert [r["K"] for r in frames_cs["Flow"].collect()] == [2, 3, 4, 1]


    def test_sql_where_equality_binds_ci(self, spark, tmp_path):
        """r13 (r12 VERDICT #1): on a CI-collation server a plain
        ``WHERE Status = 'Success'`` (InventorySync.dtsx:60-62) matches
        'SUCCESS' and 'success' rows too — under collation_ci the
        embedded-SQL rewrite folds string-literal equality, so the
        migrated package stops silently dropping mixed-case rows; the
        default stays case-sensitive."""
        body = (
            '<components>'
            '<component refId="P\\F\\S" componentClassID="Microsoft.OLEDBSource" name="S">'
            '<properties><property name="SqlCommand">'
            "SELECT K, Status FROM src.F WHERE Status = 'Success'"
            '</property></properties>'
            '</component>'
            '</components>'
        )
        src = spark.createDataFrame(
            [(1, "Success"), (2, "SUCCESS"), (3, "success"), (4, "Failed")],
            "K int, Status string",
        )
        path = _write_pkg(tmp_path, body, "CiWhere")
        frames, _ = run_package(
            spark, path, tables={"src.F": src}, collation_ci=True
        )
        got = {(r["K"], r["Status"]) for r in frames["Flow"].collect()}
        # all case variants flow, ORIGINAL case preserved in the output
        assert got == {(1, "Success"), (2, "SUCCESS"), (3, "success")}
        frames_cs, _ = run_package(spark, path, tables={"src.F": src})
        assert {r["K"] for r in frames_cs["Flow"].collect()} == {1}

    def test_conditional_split_predicate_binds_ci(self, spark, tmp_path):
        """A ConditionalSplit string comparison (the prompts.py:150-164
        ternary shape) folds under collation_ci: Status == "success"
        routes every case variant; default routes only the exact
        match."""
        body = (
            '<components>'
            '<component refId="P\\F\\S" componentClassID="Microsoft.OLEDBSource" name="S">'
            '<properties><property name="OpenRowset">src.F</property></properties>'
            '</component>'
            '<component refId="P\\F\\CS" componentClassID="Microsoft.ConditionalSplit" name="CS">'
            '<outputs>'
            '<output refId="o1" name="Good"><properties>'
            '<property name="Expression">[Status] == "success"</property>'
            '<property name="EvaluationOrder">0</property>'
            '</properties></output>'
            '<output refId="o2" name="Rest"/>'
            '</outputs>'
            '</component>'
            '</components>'
            '<paths>'
            '<path startId="P\\F\\S.Outputs[O]" endId="P\\F\\CS.Inputs[I]"/>'
            '</paths>'
        )
        src = spark.createDataFrame(
            [(1, "Success"), (2, "SUCCESS"), (3, "success"), (4, "Failed")],
            "K int, Status string",
        )
        path = _write_pkg(tmp_path, body, "CiSplit")
        frames, _ = run_package(
            spark, path, tables={"src.F": src}, collation_ci=True
        )
        # the default output carries the chain: only the non-matches
        assert {r["K"] for r in frames["Flow"].collect()} == {4}
        frames_cs, _ = run_package(spark, path, tables={"src.F": src})
        assert {r["K"] for r in frames_cs["Flow"].collect()} == {1, 2, 4}


class TestAutoBoundDml:
    """r13 (r12 VERDICT #6): the audit-INSERT + flag-UPDATE statement
    shapes (InventorySync.dtsx:266-269) auto-bind — the engine owns both
    writers (D5 append / D6 update_flag atomic swap); execution is
    in-view.  Everything else — and the same shapes against a bound
    frame MISSING the named columns — stays honest-manual."""

    def _pkg(self, tmp_path, name, sql, variables=""):
        xml = ('<?xml version="1.0"?>\n'
               '<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts" '
               'xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask" '
               f'DTS:ObjectName="{name}">'
               f'<DTS:Variables>{variables}</DTS:Variables>'
               '<DTS:Executables>'
               f'<DTS:Executable DTS:refId="Package{BS}T" '
               'DTS:ExecutableType="Microsoft.ExecuteSQLTask" '
               'DTS:ObjectName="T">'
               '<DTS:ObjectData><SQLTask:SqlTaskData '
               'SQLTask:Connection="c" '
               f'SQLTask:SqlStatementSource="{sql}"/></DTS:ObjectData>'
               '</DTS:Executable>'
               '</DTS:Executables>'
               '<DTS:PrecedenceConstraints></DTS:PrecedenceConstraints>'
               '</DTS:Executable>')
        p = tmp_path / f"{name}.dtsx"
        p.write_text(xml)
        return str(p)

    def test_update_flag_auto_binds_and_flips(self, spark, tmp_path):
        path = self._pkg(
            tmp_path, "UpdFlag",
            "UPDATE stg.T SET Flag = 1 WHERE Flag = 0;",
        )
        stg = spark.createDataFrame(
            [(1, 0), (2, 1), (3, 0)], "K int, Flag int"
        )
        frames, report = run_package(spark, path, tables={"stg.T": stg})
        statuses = {b.name: b.status for b in report}
        assert statuses["T"] == "bound"
        got = {(r["K"], r["Flag"]) for r in frames["T"].collect()}
        assert got == {(1, 1), (2, 1), (3, 1)}

    def test_insert_plus_update_pair_binds(self, spark, tmp_path):
        """The exact InventorySync 'Update Sync Log' pair: a 1-row audit
        INSERT (GETDATE + @Var values) then the flag UPDATE; unlisted
        INSERT columns land NULL; downstream state is in-view."""
        from datetime import datetime

        path = self._pkg(
            tmp_path, "AuditPair",
            "INSERT INTO etl.Log (SyncType, N, Status) "
            "VALUES ('Inventory', @RecordsProcessed, 'Success');"
            "UPDATE stg.T SET Flag = 1 WHERE Flag = 0;",
            variables=(
                '<DTS:Variable DTS:Namespace="User" '
                'DTS:ObjectName="RecordsProcessed">'
                '<DTS:VariableValue DTS:DataType="3">42</DTS:VariableValue>'
                '</DTS:Variable>'
            ),
        )
        log = spark.createDataFrame(
            [("Inventory", 7, "Success", datetime(2024, 1, 1))],
            "SyncType string, N int, Status string, At timestamp",
        )
        stg = spark.createDataFrame([(1, 0), (2, 1)], "K int, Flag int")
        frames, report = run_package(
            spark, path, tables={"etl.Log": log, "stg.T": stg}
        )
        statuses = {b.name: b.status for b in report}
        assert statuses["T"] == "bound"
        # the task frame is the UPDATE's post-state
        assert {(r["K"], r["Flag"]) for r in frames["T"].collect()} == {
            (1, 1), (2, 1)
        }
        # the INSERT landed in-view: new row with NULL for unlisted At
        rows = sorted(
            (r["SyncType"], r["N"], r["Status"], r["At"] is None)
            for r in spark.table("auditpair__etl_log").collect()
        )
        assert rows == [
            ("Inventory", 7, "Success", False),
            ("Inventory", 42, "Success", True),
        ]

    def test_complex_dml_stays_manual(self, spark, tmp_path):
        for sql in (
            "UPDATE stg.T SET Flag = Flag + 1 WHERE Flag = 0;",
            "DELETE FROM stg.T WHERE Flag = 0;",
            "UPDATE stg.T SET Flag = 1;",
        ):
            path = self._pkg(tmp_path, f"M{abs(hash(sql)) % 1000}", sql)
            stg = spark.createDataFrame([(1, 0)], "K int, Flag int")
            _, report = run_package(spark, path, tables={"stg.T": stg})
            assert report[0].status == "manual_review_required", sql

    def test_missing_columns_stay_manual(self, spark, tmp_path):
        """The InventorySync INSERT against a bound SyncLog missing the
        audit columns must not flip to bound (it could never execute) —
        the r11-era honest classification is preserved."""
        path = self._pkg(
            tmp_path, "MissCols",
            "INSERT INTO etl.Log (SyncType, Missing) VALUES ('x', 1);",
        )
        log = spark.createDataFrame([("a",)], "SyncType string")
        _, report = run_package(spark, path, tables={"etl.Log": log})
        assert report[0].status == "manual_review_required"

    def test_inventory_sync_update_task_binds_with_full_schema(
        self, spark
    ):
        """Bound with a full-schema SyncLog, the reference package's
        'Update Sync Log' task flips to bound and executes: audit row
        appended, every ProcessedFlag=0 row flipped to 1 in-view."""
        from datetime import datetime
        from decimal import Decimal

        synclog = spark.createDataFrame(
            [("Inventory", datetime(2024, 3, 1), 5, "Success",
              datetime(2024, 3, 1))],
            "SyncType string, LastSyncTime timestamp, "
            "RecordsProcessed int, Status string, CompletedAt timestamp",
        )
        stg = spark.createDataFrame(
            [("SKU-1", "W1", 50, 10, 40, datetime(2024, 1, 1).date(), 20,
              100, Decimal("2.5000"), 0)],
            "ProductSKU string, WarehouseCode string, QuantityOnHand int,"
            "QuantityReserved int, QuantityAvailable int, LastCountDate date,"
            "ReorderPoint int, MaxStockLevel int, UnitCost decimal(18,4),"
            "ProcessedFlag int",
        )
        dim_product = spark.createDataFrame(
            [(900, "SKU-1", 1)], "ProductKey int, SKU string, IsActive int"
        )
        dim_wh = spark.createDataFrame(
            [(501, "W1")], "WarehouseKey int, WarehouseCode string"
        )
        frames, report = run_package(
            spark, f"{PKG_DIR}/InventorySync.dtsx",
            tables={
                "etl.SyncLog": synclog, "stg.InventoryAPI": stg,
                "dim.Product": dim_product, "dim.Warehouse": dim_wh,
            },
        )
        statuses = {b.name: b.status for b in report}
        assert statuses["Update Sync Log"] == "bound"
        # flag flipped in-view; audit row appended with the package's
        # RecordsProcessed variable (0 by default) and GETDATE stamps
        upd = spark.table("inventorysync__stg_inventoryapi")
        assert [r["ProcessedFlag"] for r in upd.collect()] == [1]
        log = spark.table("inventorysync__etl_synclog")
        assert log.count() == 2
        new = log.filter(F.col("LastSyncTime") > "2024-06-01").first()
        assert new["SyncType"] == "Inventory"
        assert new["Status"] == "Success"
        assert new["CompletedAt"] is not None


class TestAutoBoundDmlShapes:
    """r14 (r13 VERDICT #1): the remaining reference-sample DML shapes
    auto-bind — TRUNCATE TABLE (CustomerDataLoad.dtsx:51), the SCD MERGE
    with HASHBYTES change-hash compare (dtsx:166-181), and the
    DELETE-range + INSERT..SELECT re-aggregate pair
    (SalesFactETL.dtsx:294-306).  Exact-shape matching: every malformed
    variant stays honest-manual."""

    def _pkg(self, tmp_path, name, sql):
        sql_attr = (
            sql.replace("&", "&amp;").replace("<", "&lt;")
            .replace('"', "&quot;").replace("\n", "&#10;")
        )
        xml = ('<?xml version="1.0"?>\n'
               '<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts" '
               'xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask" '
               f'DTS:ObjectName="{name}">'
               '<DTS:Variables></DTS:Variables>'
               '<DTS:Executables>'
               f'<DTS:Executable DTS:refId="Package{BS}T" '
               'DTS:ExecutableType="Microsoft.ExecuteSQLTask" '
               'DTS:ObjectName="T">'
               '<DTS:ObjectData><SQLTask:SqlTaskData '
               'SQLTask:Connection="c" '
               f'SQLTask:SqlStatementSource="{sql_attr}"/></DTS:ObjectData>'
               '</DTS:Executable>'
               '</DTS:Executables>'
               '<DTS:PrecedenceConstraints></DTS:PrecedenceConstraints>'
               '</DTS:Executable>')
        p = tmp_path / f"{name}.dtsx"
        p.write_text(xml)
        return str(p)

    def test_truncate_binds_and_empties_in_view(self, spark, tmp_path):
        path = self._pkg(tmp_path, "Trunc", "TRUNCATE TABLE stg.T;")
        stg = spark.createDataFrame([(1,), (2,)], "K int")
        frames, report = run_package(spark, path, tables={"stg.T": stg})
        assert {b.name: b.status for b in report}["T"] == "bound"
        assert frames["T"].count() == 0
        assert frames["T"].columns == ["K"]
        assert spark.table("trunc__stg_t").count() == 0

    def test_delete_range_null_and_boundary_semantics(self, spark, tmp_path):
        """DELETE removes rows where the predicate is TRUE; FALSE and
        NULL-predicate rows survive (SQL three-valued semantics).
        BETWEEN is inclusive on both ends."""
        path = self._pkg(
            tmp_path, "DelRange",
            "DELETE FROM agg.T WHERE D BETWEEN 10 AND 20;",
        )
        agg = spark.createDataFrame(
            [(1, 9), (2, 10), (3, 15), (4, 20), (5, 21), (6, None)],
            "K int, D int",
        )
        frames, report = run_package(spark, path, tables={"agg.T": agg})
        assert {b.name: b.status for b in report}["T"] == "bound"
        assert {r["K"] for r in frames["T"].collect()} == {1, 5, 6}

    def test_insert_select_appends_aggregate(self, spark, tmp_path):
        """INSERT..SELECT with GROUP BY + IN-subquery: positional column
        alignment, unlisted target columns land NULL, values cast to
        the target column types."""
        path = self._pkg(
            tmp_path, "InsSel",
            "INSERT INTO agg.T (K, Total)\n"
            "SELECT K, SUM(V) AS Total FROM fact.F\n"
            "WHERE K IN (SELECT K FROM dim.D WHERE Keep = 1)\n"
            "GROUP BY K;",
        )
        agg = spark.createDataFrame(
            [(99, 1.0, "pre")], "K int, Total double, Tag string"
        )
        fact = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 4), (3, 5)], "K int, V int"
        )
        dim = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 0)], "K int, Keep int"
        )
        frames, report = run_package(
            spark, path,
            tables={"agg.T": agg, "fact.F": fact, "dim.D": dim},
        )
        assert {b.name: b.status for b in report}["T"] == "bound"
        got = {(r["K"], r["Total"], r["Tag"]) for r in frames["T"].collect()}
        assert got == {(99, 1.0, "pre"), (1, 5.0, None), (2, 4.0, None)}

    _MERGE = (
        "-- comment the attribute normalization must not let swallow\n"
        "MERGE dim.C AS target\n"
        "USING stg.C AS source\n"
        "ON target.K = source.K\n"
        "WHEN MATCHED AND target.H != HASHBYTES('SHA2_256', "
        "CONCAT(source.A, source.B))\n"
        "THEN UPDATE SET A = source.A, B = source.B, Cur = 1\n"
        "WHEN NOT MATCHED BY TARGET\n"
        "THEN INSERT (K, A, B, Cur) "
        "VALUES (source.K, source.A, source.B, 1);"
    )

    def test_merge_four_outcomes(self, spark, tmp_path):
        """matched+hash-differs -> updated; matched+hash-equal ->
        untouched; source-unmatched -> inserted (unlisted columns NULL);
        target rows with no source match pass through."""
        path = self._pkg(tmp_path, "Mrg", self._MERGE)
        src = spark.createDataFrame(
            [(1, "a1", "b1"), (2, "a2", "b2"), (3, "a3", "b3")],
            "K int, A string, B string",
        )
        dim = spark.createDataFrame(
            [(1, "old", "old", "stale", 0),   # hash differs -> update
             (2, "a2", "b2", None, 0),        # filled with true hash below
             (4, "keep", "keep", "x", 0)],    # no source row -> untouched
            "K int, A string, B string, H string, Cur int",
        ).withColumn(
            "H",
            F.when(F.col("K") == 2,
                   F.sha2(F.concat("A", "B"), 256)).otherwise(F.col("H")),
        )
        frames, report = run_package(
            spark, path, tables={"dim.C": dim, "stg.C": src}
        )
        assert {b.name: b.status for b in report}["T"] == "bound"
        got = {r["K"]: (r["A"], r["Cur"], r["H"])
               for r in frames["T"].collect()}
        assert set(got) == {1, 2, 3, 4}
        assert got[1][0] == "a1" and got[1][1] == 1      # updated
        assert got[1][2] == "stale"                       # H not in SET list
        assert got[2] == ("a2", 0, got[2][2])             # untouched
        assert got[3][0] == "a3" and got[3][1] == 1       # inserted
        assert got[3][2] is None                          # unlisted -> NULL
        assert got[4] == ("keep", 0, "x")                 # no source match

    def test_merge_ci_folds_string_keys(self, spark, tmp_path):
        path = self._pkg(
            tmp_path, "MrgCi",
            "MERGE dim.C AS target USING stg.C AS source\n"
            "ON target.K = source.K\n"
            "WHEN NOT MATCHED THEN INSERT (K) VALUES (source.K);",
        )
        src = spark.createDataFrame([("ACME",), ("New",)], "K string")
        dim = spark.createDataFrame([("Acme",)], "K string")
        frames, _ = run_package(
            spark, path, tables={"dim.C": dim, "stg.C": src},
            collation_ci=True,
        )
        # 'ACME' matches 'Acme' under ci -> only 'New' inserts
        assert {r["K"] for r in frames["T"].collect()} == {"Acme", "New"}

    @pytest.mark.parametrize("sql", [
        # WHEN NOT MATCHED BY SOURCE is not the sample shape
        "MERGE dim.C AS t USING stg.C AS s ON t.K = s.K "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE;",
        # unknown SET column
        "MERGE dim.C AS target USING stg.C AS source ON target.K = source.K "
        "WHEN MATCHED THEN UPDATE SET Nope = source.A "
        "WHEN NOT MATCHED THEN INSERT (K) VALUES (source.K);",
        # unbound table
        "TRUNCATE TABLE unbound.T;",
        # non-BETWEEN delete
        "DELETE FROM dim.C WHERE K = 1;",
        # INSERT..SELECT over an unbound table
        "INSERT INTO dim.C (K) SELECT K FROM unbound.T;",
        # INSERT..SELECT with nested DML
        "INSERT INTO dim.C (K) SELECT K FROM stg.C; DELETE FROM dim.C "
        "WHERE K = 1;",
    ])
    def test_malformed_variants_stay_manual(self, spark, tmp_path, sql):
        path = self._pkg(tmp_path, f"Bad{abs(hash(sql)) % 10**6}", sql)
        dim = spark.createDataFrame([(1, "a", "b", "h", 0)],
                                    "K int, A string, B string, H string,"
                                    " Cur int")
        src = spark.createDataFrame([(1, "a", "b")],
                                    "K int, A string, B string")
        _, report = run_package(
            spark, path, tables={"dim.C": dim, "stg.C": src}
        )
        assert {b.name: b.status for b in report}["T"] == (
            "manual_review_required"
        )

    def test_sample_packages_bind_fully(self, spark):
        """The three reference samples' previously-manual DML tasks now
        auto-bind with real bindings (the catalog suite's fixtures) —
        only SalesFactETL's RAISERROR pre-flight stays manual."""
        from ssis_to_dbt_spark.catalog import (
            _dtsx_customer_run,
            _dtsx_sales_run,
        )

        sf = "/root/testdata/sf0.001"
        loaded, merge_post, trunc = _dtsx_customer_run(spark, sf)
        assert trunc.count() == 0
        n_loaded = loaded.count()
        post = merge_post.collect()
        by_id = {r["customer_id"]: r for r in post}
        # inserted rows: hash NULL, current, fresh name
        ins = [r for r in post if r["customer_hash"] is None]
        assert ins and all(r["is_current"] == 1 for r in ins)
        assert all(not r["full_name"].startswith("OLD ") for r in ins)
        # updated rows: 'stale' hash + loaded -> current with fresh name
        upd = [r for r in post
               if r["customer_hash"] == "stale" and r["is_current"] == 1]
        assert upd and all(
            not r["full_name"].startswith("OLD ") for r in upd)
        # untouched matched rows: correct hex hash, still OLD + not current
        kept = [r for r in post
                if r["customer_hash"] not in (None, "stale")]
        assert kept and all(
            r["is_current"] == 0 and r["full_name"].startswith("OLD ")
            for r in kept)
        fact, agg_post = _dtsx_sales_run(spark, sf)
        rows = agg_post.collect()
        assert not [r for r in rows if r["date_key"] == 11110101]  # deleted
        [surv] = [r for r in rows if r["date_key"] == 11110102]
        assert surv.total_qty == 8.0 and surv.sale_date is not None
        ins_rows = [r for r in rows if r["sale_date"] is None]
        # re-aggregate matches a direct groupBy of the loaded facts
        n_groups = (
            fact.groupBy("date_key", "customer_key", "product_key")
            .count().count()
        )
        assert len(ins_rows) == n_groups > 0


class TestDmlRewriteHelpers:
    """Unit coverage for the r14 T-SQL helpers."""

    def test_strip_line_comments_preserves_literals(self):
        from ssis_to_dbt_spark.dtsx import _strip_line_comments

        s = "SELECT '--not a comment' AS a -- real comment\nFROM t"
        assert _strip_line_comments(s) == (
            "SELECT '--not a comment' AS a \nFROM t"
        )

    def test_rewrite_concat_null_as_empty(self, spark):
        from ssis_to_dbt_spark.dtsx import _rewrite_tsql_calls

        out = _rewrite_tsql_calls("CONCAT(a, b, c)")
        row = (
            spark.createDataFrame([("x", None, "z")],
                                  "a string, b string, c string")
            .selectExpr(f"{out} AS r").first()
        )
        assert row["r"] == "xz"  # T-SQL CONCAT ignores NULLs

    def test_rewrite_hashbytes_algorithms(self):
        from ssis_to_dbt_spark.dtsx import _rewrite_tsql_calls

        assert _rewrite_tsql_calls(
            "HASHBYTES('SHA2_256', x)") == "sha2(x, 256)"
        assert _rewrite_tsql_calls(
            "HASHBYTES('SHA2_512', x)") == "sha2(x, 512)"
        assert _rewrite_tsql_calls("HASHBYTES('MD5', x)") == "md5(x)"
        with pytest.raises(ValueError, match="algorithm"):
            _rewrite_tsql_calls("HASHBYTES('SHA1', x)")

    def test_rewrite_nested_concat_in_hashbytes(self):
        from ssis_to_dbt_spark.dtsx import _rewrite_tsql_calls

        out = _rewrite_tsql_calls("HASHBYTES('SHA2_256', CONCAT(a, b))")
        assert out == (
            "sha2(concat(coalesce(CAST(a AS STRING), ''), "
            "coalesce(CAST(b AS STRING), '')), 256)"
        )

    def test_rewrite_skips_names_inside_literals(self):
        from ssis_to_dbt_spark.dtsx import _rewrite_tsql_calls

        s = "SELECT 'CONCAT(a,b)' AS lit"
        assert _rewrite_tsql_calls(s) == s

    def test_preserve_attr_newlines_roundtrip(self, tmp_path):
        """Raw newlines inside XML attributes survive parse (attribute
        normalization would fold them to spaces and let -- comments
        swallow the statements that follow)."""
        from ssis_to_dbt_spark.dtsx import parse_dtsx

        p = tmp_path / "nl.dtsx"
        p.write_text(
            '<?xml version="1.0"?>\n'
            '<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts" '
            'xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask" '
            'DTS:ObjectName="NL">'
            '<!-- a comment with "quotes" stays untouched -->'
            '<DTS:Executables>'
            '<DTS:Executable DTS:refId="Package\\T" '
            'DTS:ExecutableType="Microsoft.ExecuteSQLTask" '
            'DTS:ObjectName="T">'
            '<DTS:ObjectData><SQLTask:SqlTaskData SQLTask:Connection="c" '
            'SQLTask:SqlStatementSource="-- c1\nSELECT 1\nFROM t"/>'
            '</DTS:ObjectData></DTS:Executable></DTS:Executables>'
            '</DTS:Executable>'
        )
        pkg = parse_dtsx(str(p))
        assert pkg.tasks[0].sql == "-- c1\nSELECT 1\nFROM t"


class TestCiUnicodeBoundary:
    """r14 (r13 VERDICT #7): the named contract boundary of the `ci=`
    collation fold.  The engine folds with `lower()` (Unicode simple
    case mapping, JVM-side); the migrated server collation
    (`SQL_Latin1_General_CP1_CI_AS`) uses Windows Latin1 weights.  The
    two AGREE on the ASCII repertoire and on Latin-1 case pairs (the
    CP1252 simple case map matches Unicode's there, and CI_AS is
    accent-SENSITIVE, so é<>e on both sides).  They DIVERGE, by name:

    - 'ß' vs 'ss': SQL Server CI_AS weighs them EQUAL; the fold keeps
      them distinct (lower('ß') = 'ß').
    - Turkish dotted/dotless I ('İ'/'i', 'ı'/'I'): a Turkish_CI server
      weighs each pair equal; the fold does not (lower('İ') is
      'i'+combining-dot, lower('I') is 'i' <> 'ı').

    These tests PIN the engine's actual behavior on both sides of the
    boundary so any drift is caught; the divergences are documented in
    `bind_package`'s docstring and SCALE.md rather than silently
    wrong."""

    def _fold_eq(self, spark, pairs):
        df = spark.createDataFrame(pairs, "a string, b string")
        return [
            (r["a"], r["b"], r["eq"])
            for r in df.select(
                "a", "b",
                (F.lower("a") == F.lower("b")).alias("eq"),
            ).collect()
        ]

    def test_ascii_fold_matches_python_lower_model(self, spark):
        """On ASCII, JVM lower()-fold equality == the Python .lower()
        model (one batched query over seeded random pairs — the
        property the ASCII-fixture oracles rely on)."""
        import random
        import string

        rng = random.Random(1414)
        alphabet = string.ascii_letters + string.digits + " _-%"
        pairs = []
        for _ in range(150):
            a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
            # half the pairs: a case-mangled copy; half: independent
            if rng.random() < 0.5:
                b = "".join(
                    c.upper() if rng.random() < 0.5 else c.lower()
                    for c in a
                )
            else:
                b = "".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randint(0, 12))
                )
            pairs.append((a, b))
        for a, b, eq in self._fold_eq(spark, pairs):
            assert eq == (a.lower() == b.lower()), (a, b)

    def test_latin1_case_pairs_agree(self, spark):
        """CP1252 case pairs: fold-equal (and CI_AS-equal — same simple
        case map); accent pairs: fold-distinct (and CI_AS-distinct —
        the collation is accent-SENSITIVE)."""
        got = dict(
            ((a, b), eq) for a, b, eq in self._fold_eq(spark, [
                ("É", "é"), ("Ñ", "ñ"), ("Ü", "ü"), ("Ç", "ç"),
                ("é", "e"), ("ü", "u"), ("ñ", "n"),
            ])
        )
        assert got[("É", "é")] and got[("Ñ", "ñ")]
        assert got[("Ü", "ü")] and got[("Ç", "ç")]
        assert not got[("é", "e")] and not got[("ü", "u")]
        assert not got[("ñ", "n")]

    def test_documented_divergences_pinned(self, spark):
        """The named divergence cases: the fold keeps these DISTINCT
        while the corresponding server collation weighs them equal.
        Pinned so the boundary never drifts silently."""
        got = dict(
            ((a, b), eq) for a, b, eq in self._fold_eq(spark, [
                ("ß", "ss"),   # CI_AS: equal; fold: distinct
                ("İ", "i"),    # Turkish_CI: equal; fold: distinct
                ("ı", "I"),    # Turkish_CI: equal; fold: distinct
            ])
        )
        assert not got[("ß", "ss")]
        assert not got[("İ", "i")]
        assert not got[("ı", "I")]


class TestLikeBracketClasses:
    """r14 (r13 VERDICT #5): T-SQL LIKE bracket classes — `[A-C]%` /
    `[^x]%` are character classes on SQL Server but literal brackets to
    Spark LIKE.  The identifier shape translates to regexp_like with
    T-SQL semantics; any other bracket-LIKE shape refuses by name
    (classify_sql -> manual); plain LIKE stays LIKE."""

    def test_translation_model(self):
        from ssis_to_dbt_spark.dtsx import _tsql_like_to_regex

        assert _tsql_like_to_regex("[A-C]%") == "^[A-C].*$"
        assert _tsql_like_to_regex("[^x]_") == "^[^x].$"
        assert _tsql_like_to_regex("50[%]") == "^50[%]$"       # escaped %
        assert _tsql_like_to_regex("a.b%") == "^a\\.b.*$"      # meta escaped
        assert _tsql_like_to_regex("un[closed") == "^un\\[closed$"

    def test_sql_server_semantics_end_to_end(self, spark):
        """A bracket-class LIKE in embedded SQL returns exactly the rows
        SQL Server would."""
        from ssis_to_dbt_spark.dtsx import rewrite_tsql

        spark.createDataFrame(
            [("Alpha",), ("Bravo",), ("Charlie",), ("Delta",), ("acorn",),
             ("B2",), ("[A-C]x",)],
            "Name string",
        ).createOrReplaceTempView("likecls_t")
        got = {
            r["Name"]
            for r in spark.sql(
                rewrite_tsql(
                    "SELECT Name FROM dbo.T WHERE Name LIKE '[A-C]%'",
                    {"dbo.T": "likecls_t"},
                )
            ).collect()
        }
        # SQL Server: first char in A..C (case-sensitive collation here)
        assert got == {"Alpha", "Bravo", "Charlie", "B2"}
        # negated class + NOT LIKE
        got = {
            r["Name"]
            for r in spark.sql(
                rewrite_tsql(
                    "SELECT Name FROM dbo.T WHERE Name NOT LIKE '[^AB]%'",
                    {"dbo.T": "likecls_t"},
                )
            ).collect()
        }
        assert got == {"Alpha", "Bravo", "B2"}
        # ci: LOWER fold + lowered class
        got = {
            r["Name"]
            for r in spark.sql(
                rewrite_tsql(
                    "SELECT Name FROM dbo.T WHERE Name LIKE '[A-C]%'",
                    {"dbo.T": "likecls_t"}, ci=True,
                )
            ).collect()
        }
        assert got == {"Alpha", "Bravo", "Charlie", "B2", "acorn"}

    def test_literal_brackets_survive_quoting_strip(self, spark):
        from ssis_to_dbt_spark.dtsx import rewrite_tsql

        out = rewrite_tsql(
            "SELECT '[dbo].[T]' AS lit FROM [dbo].[T]", {"dbo.T": "v"}
        )
        assert out == "SELECT '[dbo].[T]' AS lit FROM v"

    def test_untranslatable_shape_classifies_manual(self):
        from ssis_to_dbt_spark.dtsx import classify_sql

        assert classify_sql(
            "SELECT * FROM t WHERE UPPER(Name) LIKE '[A-C]%'"
        ) == "manual"
        assert classify_sql(
            "SELECT * FROM t WHERE Name LIKE '[A-C]%'"
        ) == "runnable"
        assert classify_sql(
            "SELECT * FROM t WHERE Name LIKE 'A%'"
        ) == "runnable"


class TestDataConversionErrorOutput:
    def test_failing_casts_route_to_error_output(self, spark, tmp_path):
        body = (
            '<components>'
            '<component refId="P\\F\\S" componentClassID="Microsoft.OLEDBSource" name="S">'
            '<properties><property name="OpenRowset">src.Raw</property></properties>'
            '</component>'
            '<component refId="P\\F\\C" componentClassID="Microsoft.DataConversion" name="C">'
            '<outputs>'
            '<output refId="P\\F\\C.Outputs[Data Conversion Output]" name="Data Conversion Output">'
            '<outputColumns><outputColumn name="Copy of Amount" dataType="i4"/></outputColumns>'
            '</output>'
            '<output refId="P\\F\\C.Outputs[Data Conversion Error Output]" '
            'name="Data Conversion Error Output" isErrorOut="true"/>'
            '</outputs>'
            '</component>'
            '<component refId="P\\F\\DOK" componentClassID="Microsoft.OLEDBDestination" name="DOK">'
            '<properties><property name="OpenRowset">[out].[Ok]</property></properties>'
            '</component>'
            '<component refId="P\\F\\DERR" componentClassID="Microsoft.OLEDBDestination" name="DERR">'
            '<properties><property name="OpenRowset">[out].[Err]</property></properties>'
            '</component>'
            '</components>'
            '<paths>'
            '<path startId="P\\F\\S.Outputs[O]" endId="P\\F\\C.Inputs[I]"/>'
            '<path startId="P\\F\\C.Outputs[Data Conversion Output]" endId="P\\F\\DOK.Inputs[I]"/>'
            '<path startId="P\\F\\C.Outputs[Data Conversion Error Output]" endId="P\\F\\DERR.Inputs[I]"/>'
            '</paths>'
        )
        path = _write_pkg(tmp_path, body, "ConvErr")
        src = spark.createDataFrame(
            [(1, "42"), (2, "not-a-number"), (3, None)],
            "RowID int, Amount string",
        )
        run_package(spark, path, tables={"src.Raw": src})
        ok = {r["RowID"]: r["Copy of Amount"]
              for r in spark.table("converr__out_ok").collect()}
        err = {r["RowID"]: r["conv_error_col"]
               for r in spark.table("converr__out_err").collect()}
        # null input is a legitimate null, not an error (SSIS semantics)
        assert ok == {1: 42, 3: None}
        assert err == {2: "Amount"}


class TestRetryLoopOverParsedPackage:
    def test_diagnose_replaces_failing_task_build(self, spark, tmp_path):
        # C5 over a PARSED package: the bad task fails (missing column),
        # the diagnose hook supplies a corrected build, downstream runs
        from ssis_to_dbt_spark.pipeline import run_with_retries

        tc = TestContainers()
        bad = tc._sql_task("Package" + BS + "Bad", "Bad",
                           "SELECT NoSuchCol FROM src.T")
        good = tc._sql_task("Package" + BS + "After", "After", "SELECT 9 AS b")
        constraints = (
            f'<DTS:PrecedenceConstraint DTS:From="Package{BS}Bad" '
            f'DTS:To="Package{BS}After"/>')
        path = tc._pkg_xml(tmp_path, bad + good, constraints, "RetryPkg")
        src = spark.createDataFrame([(1,)], "a int")
        pkg = parse_dtsx(path)
        pipe, _ = bind_package(spark, pkg, tables={"src.T": src})

        def diagnose(name, exc, attempt):
            assert name == "Bad" and "NoSuchCol" in str(exc)
            return lambda frames, vars_: spark.sql(
                "SELECT a FROM retrypkg__src_t"
            )

        frames, report = run_with_retries(pipe, {}, on_diagnose=diagnose)
        assert report.phase == "complete"
        assert report.runs["Bad"].status == "success"
        assert report.runs["Bad"].attempts == 2
        assert frames["Bad"].collect()[0]["a"] == 1
        assert frames["After"].collect()[0]["b"] == 9

    def test_failed_task_skips_dependents(self, spark, tmp_path):
        from ssis_to_dbt_spark.pipeline import run_with_retries

        tc = TestContainers()
        bad = tc._sql_task("Package" + BS + "Bad", "Bad", "SELECT NoSuchCol FROM src.T")
        after = tc._sql_task("Package" + BS + "After", "After", "SELECT 9 AS b")
        indep = tc._sql_task("Package" + BS + "Indep", "Indep", "SELECT 1 AS c")
        constraints = (
            f'<DTS:PrecedenceConstraint DTS:From="Package{BS}Bad" '
            f'DTS:To="Package{BS}After"/>')
        path = tc._pkg_xml(tmp_path, bad + after + indep, constraints, "SkipPkg")
        src = spark.createDataFrame([(1,)], "a int")
        pipe, _ = bind_package(spark, parse_dtsx(path), tables={"src.T": src})
        frames, report = run_with_retries(pipe, {}, max_retries=1)
        assert report.phase == "failed"
        assert report.runs["Bad"].status == "failed"
        assert report.runs["After"].status == "skipped"
        assert report.runs["Indep"].status == "success"  # independent branch


class TestPackageReport:
    def test_referenced_tables_and_report(self, spark):
        from ssis_to_dbt_spark.dtsx import (
            bind_package, package_report, referenced_tables,
        )

        pkg = parse_dtsx(f"{PKG_DIR}/SalesFactETL.dtsx")
        tables = referenced_tables(pkg)
        # the binding checklist a reference user needs: every table the
        # package's SQL touches
        assert "sales.Transactions" in tables
        assert "dim.Customer" in tables
        assert "dim.Product" in tables
        assert "dim.Date" in tables
        assert "fact.Sales" in tables  # the Update Aggregates statement
        dummy = {
            t: spark.range(0).selectExpr("id AS X")
            for t in ["sales.Transactions", "dim.Customer",
                      "dim.Product", "dim.Date"]
        }
        _, bound = bind_package(spark, pkg, dummy)
        md = package_report(pkg, bound)
        assert "# Package binding report: SalesFactETL" in md
        assert "| Load Sales Facts | Pipeline | bound |" in md
        assert "manual_review_required | 2 |" in md
        assert "`sales.Transactions`" in md
        assert "Pre-ETL Validation -> Load Sales Facts" in md
        assert "`User::StartDate`" in md

    def test_report_flags_script_and_mail(self, spark):
        from ssis_to_dbt_spark.dtsx import bind_package, package_report

        pkg = parse_dtsx(f"{PKG_DIR}/InventorySync.dtsx")
        binds = {
            t: spark.range(0) for t in
            ["stg.InventoryAPI", "dim.Product", "dim.Warehouse", "etl.SyncLog"]
        }
        _, bound = bind_package(spark, pkg, binds)
        md = package_report(pkg, bound)
        assert "| Call Inventory API | ScriptTask | manual_review_required" in md
        assert "| Send Completion Email | SendMailTask | documented_only" in md


class TestManualReviewTaskTypes:
    """r12 (r11 VERDICT #8): classification fidelity for the reference's
    MANUAL_REVIEW_TASKS vocabulary (constants.py:56-62) and the
    DT_VARIANT ("13") variable contract (constants.py:49)."""

    def _task(self, name, ttype):
        return (f'<DTS:Executable DTS:refId="Package{BS}{name}" '
                f'DTS:ExecutableType="{ttype}" DTS:ObjectName="{name}"/>')

    def test_process_ftp_filesystem_are_manual_review(self, spark, tmp_path):
        from ssis_to_dbt_spark.dtsx import bind_package

        body = (self._task("Proc", "Microsoft.ExecuteProcessTask")
                + self._task("Ftp", "Microsoft.FTPTask")
                + self._task("Fs", "Microsoft.FileSystemTask")
                + self._task("Mail", "Microsoft.SendMailTask"))
        path = TestContainers()._pkg_xml(tmp_path, body, name="ManRev")
        pkg = parse_dtsx(path)
        _, bound = bind_package(spark, pkg, tables={})
        by_name = {b.name: b for b in bound}
        assert by_name["Proc"].status == "manual_review_required"
        assert "manual review" in by_name["Proc"].detail
        assert by_name["Ftp"].status == "manual_review_required"
        assert "Python scripts" in by_name["Ftp"].detail
        assert by_name["Fs"].status == "manual_review_required"
        assert "manual conversion" in by_name["Fs"].detail
        # SendMail stays documented_only: the reference's models.py
        # treats it as "documented but not converted" (models.py:145-155)
        assert by_name["Mail"].status == "documented_only"

    def test_variant_variable_binds_as_raw_string(self, spark, tmp_path):
        """DT_VARIANT ("13"): binds as its raw XML text (None when
        empty) — usable in ?-bindings/expressions as character data."""
        variables = (
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="Blob">'
            '<DTS:VariableValue DTS:DataType="13">opaque-payload'
            '</DTS:VariableValue></DTS:Variable>'
            '<DTS:Variable DTS:Namespace="User" DTS:ObjectName="Empty">'
            '<DTS:VariableValue DTS:DataType="13"></DTS:VariableValue>'
            '</DTS:Variable>'
        )
        tc = TestContainers()
        q = tc._sql_task("Package" + BS + "Q", "Q", "SELECT @Blob AS b")
        path = tc._pkg_xml(tmp_path, q, name="VarVariant",
                           variables=variables)
        pkg = parse_dtsx(path)
        vals = pkg.variable_values()
        assert vals["User::Blob"] == "opaque-payload"
        assert vals["User::Empty"] is None
        frames, _ = run_package(spark, path, tables={})
        assert frames["Q"].first()["b"] == "opaque-payload"

    def test_full_variable_type_vocabulary(self, spark, tmp_path):
        """Every reference type code (constants.py:42-51) binds to the
        documented Python value."""
        from ssis_to_dbt_spark.dtsx import DtsxVariable

        cases = [
            ("2", "7", 7), ("3", "42", 42), ("20", "9000000000",
                                             9000000000),
            ("8", "text", "text"), ("11", "true", True),
            ("11", "0", False), ("13", "x", "x"), ("13", "", None),
        ]
        for code, raw, want in cases:
            got = DtsxVariable("User", "V", code, raw).python_value()
            assert got == want, (code, raw, got)
        from datetime import datetime
        for code in ("7", "135"):
            v = DtsxVariable("User", "V", code, "2024-03-01T10:00:00")
            assert v.python_value() == datetime(2024, 3, 1, 10, 0, 0)
            assert DtsxVariable("User", "V", code, "").python_value() is None


class TestExcelComponents:
    def test_excel_source_to_excel_destination(self, spark, tmp_path):
        from ssis_to_dbt_spark.sources.readers import read_xlsx_rows
        from ssis_to_dbt_spark.sources.writers import write_xlsx

        src_xlsx = str(tmp_path / "in.xlsx")
        out_xlsx = str(tmp_path / "out.xlsx")
        write_xlsx(["NationKey", "Name"], [[1, "FRANCE"], [2, "GERMANY"]],
                   src_xlsx)
        conn = (
            '<DTS:ConnectionManager DTS:refId="Package.ConnectionManagers[In]" DTS:ObjectName="In">'
            f'<DTS:ObjectData><DTS:ConnectionManager DTS:ConnectionString="{src_xlsx}"/></DTS:ObjectData>'
            '</DTS:ConnectionManager>'
            '<DTS:ConnectionManager DTS:refId="Package.ConnectionManagers[Out]" DTS:ObjectName="Out">'
            f'<DTS:ObjectData><DTS:ConnectionManager DTS:ConnectionString="{out_xlsx}"/></DTS:ObjectData>'
            '</DTS:ConnectionManager>'
        )
        body = (
            '<components>'
            '<component refId="P\\F\\XS" componentClassID="Microsoft.ExcelSource" name="XS">'
            '<connections><connection refId="c1" connectionManagerRefId="Package.ConnectionManagers[In]" name="Excel"/></connections>'
            '<outputs><output refId="o" name="O"><outputColumns>'
            '<outputColumn name="NationKey" dataType="i4"/>'
            '<outputColumn name="Name" dataType="wstr" length="25"/>'
            '</outputColumns></output></outputs>'
            '</component>'
            '<component refId="P\\F\\XD" componentClassID="Microsoft.ExcelDestination" name="XD">'
            '<connections><connection refId="c2" connectionManagerRefId="Package.ConnectionManagers[Out]" name="Excel"/></connections>'
            '</component>'
            '</components>'
        )
        path = _write_pkg(tmp_path, body, "XlPkg", conn_mgrs=conn)
        frames, report = run_package(spark, path, tables={})
        assert {b.name: b.status for b in report}["Flow"] == "bound"
        got = {r["NationKey"]: r["Name"] for r in frames["Flow"].collect()}
        assert got == {1: "FRANCE", 2: "GERMANY"}
        # the destination really wrote a readable .xlsx
        rows = read_xlsx_rows(out_xlsx)
        assert rows[0] == ["NationKey", "Name"]
        assert sorted(r[1] for r in rows[1:]) == ["FRANCE", "GERMANY"]


class TestOrderRoutingFixture:
    """The repo's own branched-<paths> fixture package: real XML on disk
    (ssis_to_dbt_spark/fixtures/OrderRouting.dtsx) with explicit path
    fan-out — DataConversion error output + ConditionalSplit two-output +
    default, each into a separate destination.  The reference samples all
    chain in document order, so this package is what exercises
    _dataflow_order's <paths> branch end-to-end from a file."""

    PKG = None  # resolved lazily

    def _pkg(self):
        import os

        import ssis_to_dbt_spark

        return os.path.join(
            os.path.dirname(ssis_to_dbt_spark.__file__),
            "fixtures",
            "OrderRouting.dtsx",
        )

    def _feed(self, spark):
        return spark.createDataFrame(
            [
                (1, "200000.00", "1-URGENT"),   # high value wins first-match
                (2, "100.50", "5-LOW"),          # standard
                (3, "N/A", "1-URGENT"),          # conversion error
                (4, "151000.00", "3-MEDIUM"),    # high value
                (5, "99.99", "1-URGENT"),        # urgent
                (6, None, "2-HIGH"),             # NULL amount: legit null, standard
            ],
            "OrderID long, Amount string, Priority string",
        )

    def test_paths_fan_out_routes_every_row_exactly_once(self, spark):
        frames, report = run_package(
            spark, self._pkg(), tables={"sales.OrderFeed": self._feed(spark)}
        )
        high = {r["OrderID"] for r in spark.table("orderrouting__route_highvalue").collect()}
        urgent = {r["OrderID"] for r in spark.table("orderrouting__route_urgent").collect()}
        std = {r["OrderID"] for r in spark.table("orderrouting__route_standard").collect()}
        err = {r["OrderID"] for r in spark.table("orderrouting__err_badamounts").collect()}
        assert high == {1, 4}       # order 1: first-match beats Urgent
        assert urgent == {5}
        assert std == {2, 6}        # NULL amount is a legitimate null, not an error
        assert err == {3}
        # partition: every row exactly once across the four branches
        assert high | urgent | std | err == {1, 2, 3, 4, 5, 6}
        assert sum(map(len, [high, urgent, std, err])) == 6

    def test_error_output_carries_failing_column(self, spark):
        run_package(
            spark, self._pkg(), tables={"sales.OrderFeed": self._feed(spark)}
        )
        [r] = spark.table("orderrouting__err_badamounts").collect()
        assert r["conv_error_col"] == "Amount"
        assert r["AmountNum"] is None
        assert r["Amount"] == "N/A"  # original value preserved for triage

    def test_package_report_binds_all_tasks(self, spark):
        _, report = run_package(
            spark, self._pkg(), tables={"sales.OrderFeed": self._feed(spark)}
        )
        assert {b.status for b in report} == {"bound"}
