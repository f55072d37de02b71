from .catalog import (
    load_table,
    SALES_VIEW_SQL,
    TABLES,
    register_sales_view,
    register_tables,
    sales_df,
)

__all__ = [
    "load_table",
    "SALES_VIEW_SQL",
    "TABLES",
    "register_sales_view",
    "register_tables",
    "sales_df",
]
