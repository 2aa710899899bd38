from .catalog import TABLES, load_table  # noqa: F401
