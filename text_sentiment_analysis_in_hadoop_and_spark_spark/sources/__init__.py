from .tables import TABLE_NAMES, load_table, register_views  # noqa: F401
