"""Support code for the orders-spark benchmark (see ../README.md)."""
