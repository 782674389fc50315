"""The Data Vault model the vault workloads load.

Lineitem: three hubs (order, part, supplier), a three-leg link with the
line number as degenerate key, and a link satellite over the line's
status fields (``sat_delta``). Customer: a hub plus a hub satellite loaded
``sat_full``, so a customer missing from a later snapshot gets a deletion
row.
"""

from __future__ import annotations

import os

TABLES_CSV = """base_name,rel_type,column_name,column_type,column_position,mapping
lineitem,stg,l_orderkey,BIGINT,1,c
lineitem,stg,l_partkey,BIGINT,2,c
lineitem,stg,l_suppkey,BIGINT,3,c
lineitem,stg,l_linenumber,INTEGER,4,c
lineitem,stg,l_quantity,DOUBLE,5,c
lineitem,stg,l_extendedprice,DOUBLE,6,c
lineitem,stg,l_discount,DOUBLE,7,c
lineitem,stg,l_tax,DOUBLE,8,c
lineitem,stg,l_returnflag,VARCHAR,9,c
lineitem,stg,l_linestatus,VARCHAR,10,c
lineitem,stg,l_shipdate,TIMESTAMP,11,c
order,hub,l_orderkey,BIGINT,1,bk
part,hub,l_partkey,BIGINT,1,bk
supplier,hub,l_suppkey,BIGINT,1,bk
order_part_supplier,link,order,,1,ll
order_part_supplier,link,part,,2,ll
order_part_supplier,link,supplier,,3,ll
order_part_supplier,link,l_linenumber,INTEGER,4,dk
ops_details,lsat,order_part_supplier,,0,hk
ops_details,lsat,l_returnflag,VARCHAR,1,f
ops_details,lsat,l_linestatus,VARCHAR,2,f
ops_details,lsat,l_shipdate,TIMESTAMP,3,f
customer,stg,c_custkey,BIGINT,1,c
customer,stg,c_name,VARCHAR,2,c
customer,stg,c_nationkey,INTEGER,3,c
customer,stg,c_acctbal,DOUBLE,4,c
customer,stg,c_mktsegment,VARCHAR,5,c
customer,hub,c_custkey,BIGINT,1,bk
customer_details,hsat,customer,,0,hk
customer_details,hsat,c_name,VARCHAR,1,f
customer_details,hsat,c_nationkey,INTEGER,2,f
customer_details,hsat,c_acctbal,"DECIMAL(15,2)",3,f
customer_details,hsat,c_mktsegment,VARCHAR,4,f
"""

TRANSITIONS_CSV = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
lineitem,l_orderkey,hub_order,l_orderkey_bk,order,1,false,,bk
lineitem,l_partkey,hub_part,l_partkey_bk,part,1,false,,bk
lineitem,l_suppkey,hub_supplier,l_suppkey_bk,supplier,1,false,,bk
lineitem,order,link_order_part_supplier,order_hk,ops,1,false,,ll
lineitem,part,link_order_part_supplier,part_hk,ops,2,false,,ll
lineitem,supplier,link_order_part_supplier,supplier_hk,ops,3,false,,ll
lineitem,l_linenumber,link_order_part_supplier,l_linenumber_dk,ops,4,false,,dk
lineitem,ops_hk,lsat_ops_details,order_part_supplier,ops_d,0,false,,sat_delta
lineitem,l_returnflag,lsat_ops_details,l_returnflag,ops_d,1,false,,f
lineitem,l_linestatus,lsat_ops_details,l_linestatus,ops_d,2,false,,f
lineitem,l_shipdate,lsat_ops_details,l_shipdate,ops_d,3,false,,f
customer,c_custkey,hub_customer,c_custkey_bk,customer,1,false,,bk
customer,customer_hk,hsat_customer_details,customer,cust_d,0,false,,sat_full
customer,c_name,hsat_customer_details,c_name,cust_d,1,false,,f
customer,c_nationkey,hsat_customer_details,c_nationkey,cust_d,2,false,,f
customer,c_acctbal,hsat_customer_details,c_acctbal,cust_d,3,false,"cast(# as decimal(15,2))",f
customer,c_mktsegment,hsat_customer_details,c_mktsegment,cust_d,4,false,,f
"""

HUBS = ("hub_order", "hub_part", "hub_supplier", "hub_customer")
LINKS = ("link_order_part_supplier",)
SATS = ("lsat_ops_details", "hsat_customer_details")


def write_model(out_dir: str) -> tuple[str, str]:
    """Write the two metadata CSVs; returns (tables_csv, transitions_csv)."""
    os.makedirs(out_dir, exist_ok=True)
    tables = os.path.join(out_dir, "tables.csv")
    transitions = os.path.join(out_dir, "transitions.csv")
    with open(tables, "w") as fh:
        fh.write(TABLES_CSV)
    with open(transitions, "w") as fh:
        fh.write(TRANSITIONS_CSV)
    return tables, transitions
